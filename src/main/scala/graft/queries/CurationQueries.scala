package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.TextOps

/**
 * Corpus-curation operators (SURVEY.md §7.4 extension surface): the
 * filters and assignments a training-data pipeline runs AFTER dedup —
 * repetition-based quality gating (the Gopher/C4 rule family) and
 * deterministic train/validation/test splitting.
 *
 * 100 TB posture: repetition signals are per-document aggregates over
 * doc_id-clustered exploded tokens — the shuffles carry (doc_id, token)
 * counts, never documents, and after the `docsDistributed`-style
 * repartition the whole chain is exchange-free. Split assignment is a
 * pure stateless projection on a content hash: stable under any
 * partitioning, re-run, or cluster size — `rand()`-based splits are NOT
 * (they reshuffle on every retry, poisoning eval sets), which is why
 * the hash formulation is the only defensible one at scale.
 */
object CurationQueries {

  /** Documents hash-distributed by doc_id before explode-heavy stages —
    * the one shared definition of that rationale. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    DedupQueries.docsDistributed(s, dir)

  /** The ONE statement of the repetition-gate inequality (top-bigram
    * fraction > 1/5 OR distinct-token ratio < 3/4, integer
    * cross-multiplication) — Column form, shared by [[qRepetitionFilter]]
    * and the streaming face so the two can never drift. */
  private[graft] def repetitiveFlag(topBigramN: org.apache.spark.sql.Column,
                                    nBigrams: org.apache.spark.sql.Column,
                                    nTypes: org.apache.spark.sql.Column,
                                    nTok: org.apache.spark.sql.Column) =
    (topBigramN * 5 > nBigrams || nTypes * 4 < nTok * 3).cast("int")

  /** The same gate inequality in oracle SQL — referenced by BOTH the
    * standalone [[qRepetitionFilter]] oracle and the composed
    * [[qCuratedCorpus]] oracle (the `dedupedKeptCte` discipline: a
    * threshold change cannot reach one gate and miss the other). */
  private[queries] def repGateSql(topBigram: String, nBigrams: String,
                                  nTypes: String, nTok: String): String =
    s"$topBigram * 5 > $nBigrams OR $nTypes * 4 < $nTok * 3"

  /** Shared oracle CTEs for the repetition signals — per-doc unigram and
    * bigram aggregates over a `d(doc_id, toks)` CTE, name-prefixed so the
    * standalone oracle (`u`/`ua`/`b`/`ba`) and the composed oracle
    * (`ru`/…) instantiate the same text under their own namespaces. */
  private[queries] def repSignalCtes(p: String): String =
    s"""${p}u AS (SELECT doc_id, tok, COUNT(*) AS c
       |      FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2),
       |${p}ua AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, COUNT(*) AS n_types,
       |              CAST(MAX(c) AS BIGINT) AS top_tok_n
       |       FROM ${p}u GROUP BY doc_id),
       |${p}b AS (SELECT doc_id, bg, COUNT(*) AS c
       |      FROM (SELECT doc_id,
       |                   unnest(list_transform(generate_series(1, len(toks) - 1),
       |                            i -> toks[i] || ' ' || toks[i+1])) AS bg
       |            FROM d) GROUP BY 1, 2),
       |${p}ba AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |              CAST(MAX(c) AS BIGINT) AS top_bigram_n
       |       FROM ${p}b GROUP BY doc_id)""".stripMargin

  /**
   * Gopher-style repetition signals per document, all exact integers:
   * token totals/types, the heaviest token and bigram, and the
   * `repetitive` gate — top-bigram fraction > 1/5 OR distinct-token
   * ratio < 3/4 (integer cross-multiplication, no float thresholds).
   */
  val qRepetitionFilter = Q(
    "q_repetition_filter",
    (s, dir) => repetitionSignals(docs(s, dir)),
    repetitionOracle
  )

  /** The repetition-signal pipeline over an ARBITRARY `(doc_id, text)`
    * frame — [[qRepetitionFilter]]'s body, factored so the
    * `graft_curate` TVF and any non-testdata caller run the exact same
    * aggregates and gate. */
  private[graft] def repetitionSignals(d: DataFrame): DataFrame = {
      val uni = d
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
             max("c").as("top_tok_n"))
      val bi = d
        .select(col("doc_id"),
                explode(TextOps.shingles(TextOps.tokens(col("text")), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
      d.select("doc_id")
        .join(uni, Seq("doc_id"), "left")
        .join(bi, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          coalesce(col("n_types"), lit(0L)).as("n_types"),
          coalesce(col("top_tok_n"), lit(0L)).as("top_tok_n"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
        .withColumn(
          "repetitive",
          repetitiveFlag(col("top_bigram_n"), col("n_bigrams"),
                         col("n_types"), col("n_tok")))
  }

  private def repetitionOracle: Option[String] =
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |${repSignalCtes("")},
      |j AS (
      |  SELECT d.doc_id,
      |         COALESCE(ua.n_tok, 0) AS n_tok,
      |         COALESCE(ua.n_types, 0) AS n_types,
      |         COALESCE(ua.top_tok_n, 0) AS top_tok_n,
      |         COALESCE(ba.n_bigrams, 0) AS n_bigrams,
      |         COALESCE(ba.top_bigram_n, 0) AS top_bigram_n
      |  FROM d LEFT JOIN ua ON ua.doc_id = d.doc_id
      |         LEFT JOIN ba ON ba.doc_id = d.doc_id
      |)
      |SELECT *, CAST(${repGateSql("top_bigram_n", "n_bigrams",
                                   "n_types", "n_tok")} AS INT) AS repetitive
      |FROM j""".stripMargin)

  /** Split-assignment expressions, shared by the batch query and the
    * streaming face ([[graft.streaming.StreamingCuration]]) so the two
    * can never drift: bucket = first 32 md5 bits of the NORMALIZED text
    * mod 10; 80/10/10 split. */
  private[graft] def splitBucket(text: org.apache.spark.sql.Column) =
    pmod(TextOps.md5Prefix32(TextOps.contentHash(text)), lit(10L))
  private[graft] def splitName(bucket: org.apache.spark.sql.Column) =
    when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test")

  /** The split expressions in oracle SQL — ONE statement of the bucket
    * hash and the 80/10/10 CASE, referenced by both the standalone
    * [[qSplitAssign]] oracle and the composed [[qCuratedCorpus]] oracle. */
  private[queries] val splitBucketSql: String =
    s"${DedupQueries.hex32(
         "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))")} % 10"
  private[queries] def splitCaseSql(b: String): String =
    s"CASE WHEN $b <= 7 THEN 'train' WHEN $b = 8 THEN 'val' ELSE 'test' END"

  /**
   * Deterministic train/val/test split on the content hash (80/10/10).
   * Keying on content (not doc_id) also pins exact duplicates to the same
   * split — they can never straddle a train/eval boundary and leak.
   */
  val qSplitAssign = Q(
    "q_split_assign",
    (s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), splitBucket(col("text")).as("bucket"))
        .withColumn("split", splitName(col("bucket"))),
    Some(s"""WITH h AS (
      |  SELECT doc_id, $splitBucketSql AS bucket
      |  FROM documents
      |)
      |SELECT doc_id, bucket, ${splitCaseSql("bucket")} AS split
      |FROM h""".stripMargin)
  )

  /**
   * Group-aware (near-dup-cluster) train/val/test split: every document
   * in a dedup component gets the split of its CANONICAL (min-id)
   * member, so a near-duplicate pair can never straddle a train/eval
   * boundary. [[qSplitAssign]] pins only EXACT duplicates together
   * (content-hash keying); when a pipeline deliberately retains
   * near-duplicates — they ARE distinct documents — content keying
   * still scatters them, and a val doc with a 95 %-identical twin in
   * train is leakage. Keying the split on the canonical member's
   * content closes the hole at near-dup granularity (the group-shuffle
   * split discipline at corpus scale); the 80/10/10 bucket expressions
   * are [[splitBucket]]/[[splitName]], shared with [[qSplitAssign]], so
   * the two splits agree on every singleton.
   *
   * Scale shape: labels come from [[DedupQueries.clusterIds]] (the
   * three components regimes — scales with the LSH edge OUTPUT, not the
   * corpus); the canonical's bucket is computed from text BEFORE the
   * join, so the cluster join exchanges only 16-byte
   * (cluster_id, bucket) rows — text never shuffles.
   */
  lazy val qSplitCluster = Q(
    "q_split_cluster",
    (s, dir) => splitByCluster(Tables.read(s, dir, "documents"),
                               DedupQueries.clusterIds(s, dir)),
    Some(s"""${DedupQueries.clusterIdsCte},
      |cb AS (SELECT doc_id AS cluster_id, $splitBucketSql AS bucket
      |       FROM documents)
      |SELECT c.doc_id, c.cluster_id, cb.bucket,
      |       ${splitCaseSql("cb.bucket")} AS split
      |FROM clus c JOIN cb ON cb.cluster_id = c.cluster_id""".stripMargin)
  )

  /** The group-aware split projection over a `(doc_id, cluster_id)`
    * labels frame — one body behind [[qSplitCluster]] and
    * [[splitClusterOf]], so the gated query and the TVF can never drift
    * on the canonical-bucket rule. */
  private def splitByCluster(docsDf: DataFrame, labels: DataFrame): DataFrame = {
    val canonBucket = docsDf.select(col("doc_id").as("cluster_id"),
                                    splitBucket(col("text")).as("bucket"))
    labels.join(canonBucket, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("bucket"),
              splitName(col("bucket")).as("split"))
  }

  /** [[qSplitCluster]] over an ARBITRARY `(doc_id, text, …)` frame — the
    * `graft_split_cluster(table)` TVF delegate. */
  def splitClusterOf(docsDf: DataFrame): DataFrame =
    splitByCluster(docsDf, DedupQueries.clusterIdsOf(docsDf))

  /**
   * Deterministic stratified sampling as a library call: per-stratum keep
   * rates (percent, 0–100) applied via a salted content hash, NOT
   * `rand()`: the sample is reproducible, partitioning-invariant, and —
   * with a salt different from [[qSplitAssign]]'s — independent of the
   * split assignment. One stateless projection + filter; no shuffle at
   * all. Keeps `df`'s columns plus the hash column `h` (for auditing
   * which band a row landed in); an input frame already carrying `h` is
   * refused rather than silently clobbered.
   *
   * @param stratumCol column holding the stratum key (e.g. `lang`)
   * @param rates      keep-percent per stratum value; strata not in the
   *                   map keep `defaultPct`
   * @param salt       prefix mixed into the hash — distinct salts give
   *                   independent samples over the same corpus
   * @param hashCol    text column the keep decision hashes (content, not
   *                   id: exact duplicates sample identically)
   */
  def stratifiedSample(df: DataFrame, stratumCol: String,
                       rates: Map[String, Int], defaultPct: Int,
                       salt: String = "sample:",
                       hashCol: String = "text"): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
            "keep rates are percentages in [0, 100]")
    require(!df.columns.contains("h"),
            "input already has a column named h (the audit column this " +
              "call appends) — rename it before sampling")
    val keepPct = rates.foldLeft(lit(defaultPct)) { case (acc, (k, pct)) =>
      when(col(stratumCol) === k, pct).otherwise(acc)
    }
    df.withColumn("h", pmod(TextOps.md5Prefix32(
                              md5(concat(lit(salt), col(hashCol)))), lit(100L)))
      .filter(col("h") < keepPct.cast("long"))
  }

  /** The oracle fixture over [[stratifiedSample]]: downsample the majority
    * language (en → 50%), keep the tail at 90%. */
  val qStratifiedSample = Q(
    "q_stratified_sample",
    (s, dir) =>
      stratifiedSample(Tables.read(s, dir, "documents"), "lang",
                       rates = Map("en" -> 50), defaultPct = 90)
        .select("doc_id", "lang", "h"),
    Some(s"""WITH h AS (
      |  SELECT doc_id, lang,
      |         ${DedupQueries.hex32("md5('sample:' || text)")} % 100 AS h,
      |         CASE WHEN lang = 'en' THEN 50 ELSE 90 END AS keep_pct
      |  FROM documents
      |)
      |SELECT doc_id, lang, h FROM h WHERE h < keep_pct""".stripMargin)
  )

  /**
   * Token-budget packing: contiguous documents (per source, in doc_id
   * order) greedily chunked against a `PackBudget`-token budget — the
   * context-window filling pass a pretraining pipeline runs after
   * curation. Greedy CONTIGUOUS fill in a deterministic order, one
   * window per source partition (never a global window): pack_id =
   * floor(running tokens-before / budget). Packs are budget-CROSSING
   * chunks, not bounded bins: the document straddling a boundary joins
   * the earlier pack (so a pack can exceed the budget by up to one
   * document, and an oversized document fills a pack alone) — the
   * consumer truncates/splits at tokenization time. True bounded bin
   * packing is an offline solver, not an engine operator.
   */
  private val PackBudget = 2048L

  val qTokenPacking = Q(
    "q_token_packing",
    (s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
                size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("tok_before", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("pack_id", expr(s"tok_before div $PackBudget"))
        .select("doc_id", "source", "n_tok", "pack_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tok,
      |         CAST(COALESCE(SUM(n_tok) OVER (
      |           PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS tok_before
      |  FROM t
      |)
      |SELECT doc_id, source, n_tok, tok_before // $PackBudget AS pack_id
      |FROM c""".stripMargin)
  )

  /**
   * The end-to-end curation decision as one library call — the pipeline
   * a training-data user actually runs, composed from the proven
   * pieces: duplicate removal ([[DedupQueries.dedupedCorpus]]: exact
   * normalized-content edges ∪ MinHash near-dup candidate pairs →
   * connected components → one canonical doc per cluster), then the
   * repetition quality gate, then the safety wordlist gate
   * ([[WebQueries.qSafetyFilter]] — the C4-class stage between
   * repetition and the downstream quality/classifier passes), then the
   * deterministic split assignment.
   * Returns the surviving documents with their `split` column.
   * Driver-gated end-to-end via [[qCuratedCorpus]] (the stages are also
   * individually behind their own oracle rows) and contract-tested in
   * `CurationQueriesSpec`.
   *
   * @param verify Jaccard-verify LSH candidate pairs before clustering
   *               (the precision knob — see [[DedupQueries.dedupedCorpus]])
   */
  def curatedCorpus(s: SparkSession, dir: String,
                    verify: Boolean = false): DataFrame = {
    val kept = DedupQueries.dedupedCorpus(s, dir, verify)
    val repetitive = qRepetitionFilter.fn(s, dir)
      .filter(col("repetitive") === 1).select(col("doc_id").as("rep_id"))
    val blocked = WebQueries.safetyFrame(Tables.read(s, dir, "documents"))
      .filter(col("blocked") === 1).select(col("doc_id").as("blk_id"))
    val splits = qSplitAssign.fn(s, dir).select("doc_id", "split")
    kept
      .join(repetitive, col("doc_id") === col("rep_id"), "left_anti")
      .join(blocked, col("doc_id") === col("blk_id"), "left_anti")
      .join(splits, Seq("doc_id"))
  }

  /** [[curatedCorpus]] (LSH-candidate mode) over an ARBITRARY
    * `(doc_id, text, …)` frame — the `graft_curate` TVF delegate. Same
    * composition, same order: dedup → repetition gate → safety gate →
    * split column; returns the surviving rows with their `split`. */
  def curatedCorpusOf(docsDf: DataFrame): DataFrame = {
    val kept = DedupQueries.dedupedCorpusOf(docsDf)
    // collision-proof working name: the input is an ARBITRARY conforming
    // frame, and a caller-supplied `rep_id` column would make a bare
    // `rep_id` join condition ambiguous at analysis (ADVICE r10)
    val repetitive = repetitionSignals(docsDf)
      .filter(col("repetitive") === 1)
      .select(col("doc_id").as("__graft_rep_id"))
    val blocked = WebQueries.safetyFrame(docsDf.select("doc_id", "text"))
      .filter(col("blocked") === 1)
      .select(col("doc_id").as("__graft_blk_id"))
    kept
      .join(repetitive, col("doc_id") === col("__graft_rep_id"), "left_anti")
      .join(blocked, col("doc_id") === col("__graft_blk_id"), "left_anti")
      .withColumn("split", splitName(splitBucket(col("text"))))
  }

  /**
   * [[curatedCorpus]] behind the driver's correctness gate — the
   * end-to-end pipeline a user actually invokes, checked as ONE row
   * rather than only stage-by-stage. The oracle composes the proven
   * pieces the same way the Scala does:
   * [[DedupQueries.dedupedKeptCte]]'s recursive-CTE dedup fixpoint
   * (exact ∪ LSH edges → components → canonical survivors), minus the
   * [[qRepetitionFilter]] gate (its CTEs inlined under `r*` names; the
   * `d` tokens CTE is shared with the shingle pipeline — same
   * definition, stated once), joined to the [[qSplitAssign]] split
   * expression. Output: (doc_id, split) of every surviving document.
   */
  val qCuratedCorpus = Q(
    "q_curated_corpus",
    (s, dir) => curatedCorpus(s, dir).select(col("doc_id"), col("split")),
    Some(s"""${DedupQueries.dedupedKeptCte},
      |${repSignalCtes("r")},
      |rep AS (
      |  SELECT d.doc_id FROM d
      |  LEFT JOIN rua ON rua.doc_id = d.doc_id
      |  LEFT JOIN rba ON rba.doc_id = d.doc_id
      |  WHERE ${repGateSql("COALESCE(rba.top_bigram_n, 0)",
                            "COALESCE(rba.n_bigrams, 0)",
                            "COALESCE(rua.n_types, 0)",
                            "COALESCE(rua.n_tok, 0)")}
      |),
      |safe AS (
      |  SELECT doc_id FROM documents WHERE ${WebQueries.safeSql("text")}
      |),
      |sp AS (
      |  SELECT doc_id, ${splitCaseSql("b")} AS split
      |  FROM (SELECT doc_id, $splitBucketSql AS b FROM documents)
      |)
      |SELECT k.doc_id, sp.split
      |FROM kept k
      |JOIN sp ON sp.doc_id = k.doc_id
      |WHERE k.doc_id NOT IN (SELECT doc_id FROM rep)
      |  AND k.doc_id IN (SELECT doc_id FROM safe)""".stripMargin)
  )

  /** Shard size (docs per training shard) and permutation seed for
    * [[qShuffleExport]]. */
  private val ShardDocs = 64
  private val ShuffleSeed = "7"

  /**
   * Deterministic global training shuffle + shard assignment — the
   * export step after curation: training wants documents in a fixed
   * pseudo-random order, packed into equal-size shards, and the order
   * must be REPRODUCIBLE (resumable runs, re-exports, and audits all
   * replay it) and independent of cluster width or partitioning.
   * `rand()`-ordered exports are none of those. The permutation key is
   * md5(seed:doc_id) — new seed, new epoch ordering, zero state.
   *
   * The global position comes from [[graft.operators.GlobalRank]]: a
   * range exchange on the key plus per-partition row_number with
   * broadcast offsets — never the single-partition ROW_NUMBER window
   * that would funnel 100 TB through one task. Shard id is then integer
   * position division: contiguous rank blocks, so every shard is full
   * (the last one ragged) regardless of how many output writers run.
   * The md5 key doubles as the tiebreaker-free total order (keys are
   * unique per doc_id; doc_id stays in the sort as a formal tiebreak so
   * the order is total even under key collisions).
   */
  lazy val qShuffleExport = Q(
    "q_shuffle_export",
    (s, dir) => {
      val keyed = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
                md5(concat_ws(":", lit(ShuffleSeed), col("doc_id"))).as("pkey"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      graft.operators.GlobalRank
        .withGlobalRank(keyed, Seq(col("pkey"), col("doc_id")), parts, "pos")
        .select(col("doc_id"),
                expr(s"(pos - 1) div $ShardDocs").as("shard"),
                col("pos"))
    },
    Some(s"""WITH k AS (
      |  SELECT doc_id,
      |         md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)) AS kk
      |  FROM documents
      |),
      |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY kk, doc_id) AS pos
      |      FROM k)
      |SELECT doc_id, CAST((pos - 1) // $ShardDocs AS BIGINT) AS shard,
      |       CAST(pos AS BIGINT) AS pos
      |FROM r""".stripMargin)
  )

  /**
   * Export manifest — the reproducibility contract of the training
   * export: per shard of [[qShuffleExport]]'s deterministic order, the
   * document count, the position range (pos_hi − pos_lo + 1 = n_docs ⇔
   * the shard is a contiguous rank block), and an ORDER-INVARIANT
   * content checksum (bit_xor of per-doc 32-bit content hashes — any
   * task/partition order yields the same value, which is what lets a
   * re-export, a backfill, or a second cluster verify shard identity
   * without comparing payloads). The audit a pipeline stores next to
   * the shards and re-derives after every re-export; a single changed,
   * dropped, or duplicated document flips its shard's xor.
   *
   * Scale shape: the manifest aggregation ships (shard, pos, 32-bit
   * hash) — text never leaves its scan — and yields one row per shard.
   */
  /** [[qExportManifest]]'s body over an ARBITRARY `(doc_id, text, …)`
    * frame — the `graft_export_manifest(table)` TVF delegate. */
  def exportManifestOf(docsDf: DataFrame): DataFrame = {
    val keyed = docsDf
      .select(col("doc_id"),
              md5(concat_ws(":", lit(ShuffleSeed), col("doc_id")))
                .as("pkey"),
              coalesce(TextOps.md5Prefix32(md5(col("text"))), lit(0L))
                .as("h32"))
    val parts = docsDf.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    graft.operators.GlobalRank
      .withGlobalRank(keyed, Seq(col("pkey"), col("doc_id")), parts, "pos")
      .select(col("h32"), expr(s"(pos - 1) div $ShardDocs").as("shard"),
              col("pos"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           min("pos").as("pos_lo"), max("pos").as("pos_hi"),
           expr("bit_xor(h32)").as("content_xor"))
  }

  /** [[qTokenBudget]]'s body over an ARBITRARY `(doc_id, text, lang, …)`
    * frame — the `graft_token_budget(table)` TVF delegate. */
  def tokenBudgetOf(docsDf: DataFrame): DataFrame =
    withUpsampleCopies(
      docsDf
        .filter(col("lang").isInCollection(UpsampleMills.map(_._1)))
        .select(col("doc_id"), col("lang"),
                size(TextOps.tokens(col("text"))).cast("long").as("n_tok")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tok").as("raw_tokens"),
           sum("n_copies").as("epoch_docs"),
           sum(col("n_tok") * col("n_copies")).as("epoch_tokens"))

  lazy val qExportManifest = Q(
    "q_export_manifest",
    // the content hash rides the SAME ranked frame rather than joining
    // back post-rank: the sort keys (pkey, doc_id) are identical to
    // [[qShuffleExport]]'s, so the permutation and shard cut are the
    // same by construction, and the manifest needs one scan and zero
    // joins (plan-audited: the joined form cost 2 BHJ / 9 jobs over a
    // second documents scan; inlined it is GlobalRank's own shape —
    // q_shuffle_export's 3 exchanges — plus the one shard groupBy)
    (s, dir) => exportManifestOf(Tables.read(s, dir, "documents")),
    Some(s"""WITH k AS (
      |  SELECT doc_id,
      |         md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)) AS kk
      |  FROM documents
      |),
      |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY kk, doc_id) AS pos
      |      FROM k),
      |h AS (SELECT doc_id,
      |             COALESCE(${DedupQueries.hex32("md5(text)")}, 0) AS h32
      |      FROM documents),
      |j AS (
      |  SELECT r.doc_id, CAST((pos - 1) // $ShardDocs AS BIGINT) AS shard,
      |         CAST(pos AS BIGINT) AS pos, h.h32
      |  FROM r JOIN h ON h.doc_id = r.doc_id
      |)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       MIN(pos) AS pos_lo, MAX(pos) AS pos_hi,
      |       bit_xor(h32) AS content_xor
      |FROM j GROUP BY shard""".stripMargin)
  )

  /** Target mixture for [[qMixtureSample]], integer percents summing to
    * 100 (a deployment binds its own mixture; unlisted groups are
    * excluded). */
  private val MixWeights =
    Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)

  /**
   * Data-mixture sampling: draw the LARGEST corpus subset whose group
   * (language) proportions hit a target mixture EXACTLY — the
   * composition step a pretraining pipeline runs when the raw corpus's
   * language/source balance is not the balance training wants. Differs
   * from [[qStratifiedSample]] (fixed per-group keep RATES, approximate
   * counts) in both directions: the rates here are DERIVED from the data
   * (feasible total T = min over groups of ⌊n_g·100/w_g⌋, then
   * keep_g = ⌊T·w_g/100⌋ — the availability-bounded exact mixture), and
   * the draw is exact-count (rank-by-hash, keep the first keep_g), not
   * hash-threshold approximate. All integer arithmetic; the md5 rank key
   * makes the draw deterministic under any partitioning, re-run, or
   * cluster size, and a fresh sample is one seed change away.
   *
   * Scale shape: the per-group rank is [[hashPrefixDraw]]'s md5-prefix
   * bucket rank, never a one-task `PARTITION BY lang` window; the
   * group-count/offset frames are tiny broadcast aggregates.
   */
  lazy val qMixtureSample = Q(
    "q_mixture_sample",
    (s, dir) =>
      mixtureSample(Tables.read(s, dir, "documents"), "lang", MixWeights),
    Some(s"""WITH w AS (
      |  SELECT * FROM (VALUES ${MixWeights.map { case (l, p) => s"('$l', $p)" }
                                           .mkString(", ")}) AS t(lang, wt)
      |), d AS (
      |  SELECT doc_id, documents.lang,
      |         md5('mix:' || COALESCE(text, '')) AS h, wt
      |  FROM documents JOIN w ON documents.lang = w.lang
      |), c AS (
      |  SELECT w.lang, CAST(COUNT(d.doc_id) AS BIGINT) AS n,
      |         ANY_VALUE(w.wt) AS wt
      |  FROM w LEFT JOIN d ON d.lang = w.lang GROUP BY 1
      |), t AS (
      |  SELECT MIN(n * 100 // wt) AS t FROM c
      |), k AS (
      |  SELECT lang, CAST((SELECT t FROM t) * wt // 100 AS BIGINT) AS keep_n
      |  FROM c
      |), r AS (
      |  SELECT doc_id, lang,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |                                 ORDER BY h, doc_id) AS BIGINT) AS rn
      |  FROM d
      |)
      |SELECT r.doc_id, r.lang, r.rn
      |FROM r JOIN k ON r.lang = k.lang
      |WHERE r.rn <= k.keep_n""".stripMargin)
  )

  /** [[qMixtureSample]]'s body over an ARBITRARY `(doc_id, <group>, text)`
    * frame — factored so specs and non-testdata callers run the exact
    * draw the gate runs. `weights` are integer percents summing to 100;
    * groups not listed are excluded from the sample. */
  private[graft] def mixtureSample(d0: DataFrame, groupCol: String,
                                   weights: Seq[(String, Int)]): DataFrame = {
    val s = d0.sparkSession
    import s.implicits._
    val wdf = broadcast(weights.toDF(groupCol, "wt"))
    // coalesce: a null text must still hash to a total-order key — a
    // null h would sort nulls-first in Spark but nulls-LAST in DuckDB,
    // silently moving the draw boundary between engines
    val d = d0
      .select(col("doc_id"), col(groupCol),
              md5(concat(lit("mix:"), coalesce(col("text"), lit(""))))
                .as("h"))
      .join(wdf, Seq(groupCol))
    hashPrefixDraw(d.select("doc_id", groupCol, "h"), groupCol) { buckets =>
      // group counts anchored on the WEIGHT list, not the corpus: a target
      // group absent from the corpus (one null-bucket row, n = 0) must
      // drive T to 0 (exact mixture infeasible -> empty draw), not
      // silently fall out of the minimum
      weights.toDF(groupCol, "wt").join(buckets, Seq(groupCol), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("t", min(expr("n * 100 div wt")).over(Window.partitionBy()))
        .withColumn("keep_n", expr("t * wt div 100"))
    }
  }

  /** The exact per-group draw both mixtures end in: rank each group's
    * rows of `d` (`doc_id`, `groupCol`, the md5 hex `h`) by (h, doc_id)
    * and keep those ranked ≤ `keep_n`; returns `(doc_id, <group>, rn)`.
    * One lazy plan: building it runs no job, so the TVFs over it resolve
    * and EXPLAIN without one. A `PARTITION BY group` window would put
    * each group in ONE task (5 tasks for 100 TB); instead the first two
    * hex digits of `h` split each group into ≤ 256 buckets whose order
    * is `h`'s order, and rank = `row_number` within (group, bucket) +
    * the group's row count in earlier buckets (`off`). The one aggregate
    * over `d` is the bucket count: `keepOf` gets its rows
    * `(<group>, b, nb, n, off)`, n the group's count, and adds `keep_n`
    * as ONE chain over them (a second consumer would re-run the
    * aggregate over `d`), broadcast back. Its group-level arithmetic
    * may use partition-less windows: they run over ≤ 256·|groups|
    * rows, and the first bucket of each group is the one with off = 0. */
  private def hashPrefixDraw(d: DataFrame, groupCol: String)
                            (keepOf: DataFrame => DataFrame): DataFrame = {
    val bucketed = d.withColumn("b", substring(col("h"), 1, 2))
    val grp = Window.partitionBy(groupCol)
    val keep = keepOf(bucketed.groupBy(groupCol, "b")
        .agg(count(lit(1)).as("nb"))
        .withColumn("n", sum("nb").over(grp))
        .withColumn("off", coalesce(sum("nb").over(grp.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
      .select(groupCol, "b", "off", "keep_n")
    bucketed.join(broadcast(keep), Seq(groupCol, "b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(groupCol, "b").orderBy("h", "doc_id")) + col("off"))
      .filter(col("rn") <= col("keep_n"))
      .select("doc_id", groupCol, "rn")
  }

  /** Per-language upsampling weights in THOUSANDTHS for
    * [[qUpsampleEpoch]] (a deployment binds its own mixture): 1000 = pass
    * through, >1000 repeats (2500 = 2 copies always + a third for 50 % of
    * docs), <1000 downsamples. Integer mills keep the fractional-copy
    * decision exactly replayable — no float thresholds. */
  private val UpsampleMills =
    Seq("en" -> 1000, "de" -> 2500, "es" -> 1200, "fr" -> 3000, "zh" -> 500)
  private val UpsampleSalt = "upsample:"

  /**
   * Deterministic weight-based UPSAMPLING — the epoch-plan expansion a
   * pretraining pipeline runs when the mixture calls for repeating
   * high-quality sources (weights > 1), the dual of [[qMixtureSample]]
   * (which can only DRAW DOWN to a target). Each document materializes
   * `⌊w⌋ + [h < frac(w)]` copies, where h is a per-doc salted-hash draw
   * in mills — so a 2.5× language yields every doc twice plus a third
   * copy for a deterministic, partitioning-invariant half of them, and
   * expected copy mass is exact. Each copy carries its index plus a
   * per-copy permutation key, so the expanded corpus feeds
   * [[qShuffleExport]]'s global-order machinery directly and the copies
   * of one document scatter across the epoch instead of training
   * back-to-back.
   *
   * Scale shape: one stateless projection + a ≤⌈max w⌉-bounded
   * `explode(sequence(…))` — no shuffle, no state, fanout bounded by the
   * largest weight; the decision hashes doc_id (16 bytes through the
   * expression), never text.
   */
  lazy val qUpsampleEpoch = Q(
    "q_upsample_epoch",
    (s, dir) => upsampleFrame(Tables.read(s, dir, "documents")),
    Some(s"""WITH w AS (
      |  SELECT * FROM (VALUES ${UpsampleMills.map { case (l, m) => s"('$l', $m)" }
                                             .mkString(", ")}) AS t(lang, wm)
      |), d AS (
      |  -- LEFT JOIN + COALESCE 1000: unlisted/null langs PASS THROUGH
      |  -- (one copy), matching withUpsampleCopies' default — an INNER
      |  -- join would state a different function (silent deletion of
      |  -- unlisted langs), hidden only because every fixture lang is
      |  -- listed (round-17 ADVICE).
      |  SELECT doc_id, documents.lang, COALESCE(wm, 1000) AS wm,
      |         ${DedupQueries.hex32(
                   s"md5('$UpsampleSalt' || CAST(doc_id AS VARCHAR))")} % 1000 AS h
      |  FROM documents LEFT JOIN w ON documents.lang = w.lang
      |), n AS (
      |  SELECT doc_id, lang,
      |         CAST(wm // 1000 + CASE WHEN h < wm % 1000 THEN 1 ELSE 0 END
      |              AS BIGINT) AS n_copies
      |  FROM d
      |), e AS (
      |  SELECT doc_id, lang, n_copies,
      |         unnest(generate_series(1, n_copies)) AS copy
      |  FROM n WHERE n_copies > 0
      |)
      |SELECT doc_id, lang, n_copies, CAST(copy AS BIGINT) AS copy,
      |       md5('epoch:' || CAST(doc_id AS VARCHAR) || ':'
      |           || CAST(copy AS VARCHAR)) AS pkey
      |FROM e""".stripMargin)
  )

  /** The upsampling expansion over an arbitrary `(doc_id, lang, …)`
    * frame — ONE body behind [[qUpsampleEpoch]] and the streaming face
    * ([[graft.streaming.StreamingCuration]]-style, gated as
    * `q_stream_upsample`), so batch and ingest can never drift on a
    * copy-count decision. Stateless projection + bounded explode: safe
    * in append mode with no state store. */
  /** Input columns + `n_copies` — the copy-count DECISION alone (no
    * explode), shared by [[upsampleFrame]] (which materializes the
    * copies) and [[qTokenBudget]] (which only needs to MULTIPLY by the
    * count — expanding the corpus to count it would be the
    * anti-pattern). */
  private[graft] def withUpsampleCopies(docsDf: DataFrame): DataFrame = {
    // Unlisted (and null) langs default to 1000 mills = PASS-THROUGH,
    // not 0 (round-16 ADVICE: a weight table is a mixture adjustment,
    // and an epoch plan that silently DELETES every document in a
    // language the table forgot is the unsafe default). The gated
    // fixtures are unaffected — every fixture lang is listed — and
    // qTokenBudget filters to listed langs explicitly.
    val wm = UpsampleMills.foldLeft(lit(1000L)) { case (acc, (l, m)) =>
      when(col("lang") === l, m.toLong).otherwise(acc)
    }
    docsDf
      .withColumn("__wm", wm)
      .withColumn("__h", pmod(TextOps.md5Prefix32(
                                md5(concat(lit(UpsampleSalt),
                                           col("doc_id").cast("string")))),
                              lit(1000L)))
      .withColumn("n_copies",
                  expr("__wm div 1000") +
                    when(col("__h") < col("__wm") % 1000, 1L).otherwise(0L))
      .drop("__wm", "__h")
  }

  private[graft] def upsampleFrame(docsDf: DataFrame): DataFrame =
    withUpsampleCopies(docsDf.select(col("doc_id"), col("lang")))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("n_copies"),
              explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .withColumn("pkey", md5(concat_ws(":", lit("epoch"), col("doc_id"),
                                        col("copy"))))

  /**
   * Epoch token BUDGET — the planning artifact a pretraining run is
   * sized from: per language, the raw document/token mass and the mass
   * the upsampling mixture actually trains on (Σ n_copies, Σ n_copies ×
   * tokens). This is the number that decides whether the mixture fits
   * the compute budget BEFORE any expansion runs — so it multiplies by
   * the copy decision instead of exploding the corpus ([[upsampleFrame]]
   * shares the identical decision column, so the budget and the
   * expansion can never disagree). One scan, one |langs|-row aggregate.
   */
  lazy val qTokenBudget = Q(
    "q_token_budget",
    (s, dir) => tokenBudgetOf(Tables.read(s, dir, "documents")),
    Some(s"""WITH w AS (
      |  SELECT * FROM (VALUES ${UpsampleMills.map { case (l, m) => s"('$l', $m)" }
                                             .mkString(", ")}) AS t(lang, wm)
      |), d AS (
      |  SELECT documents.lang, wm,
      |         len(string_split(text, ' ')) AS n_tok,
      |         ${DedupQueries.hex32(
                   s"md5('$UpsampleSalt' || CAST(doc_id AS VARCHAR))")} % 1000 AS h
      |  FROM documents JOIN w ON documents.lang = w.lang
      |), n AS (
      |  SELECT lang, n_tok,
      |         wm // 1000 + CASE WHEN h < wm % 1000 THEN 1 ELSE 0 END
      |           AS n_copies
      |  FROM d
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
      |       CAST(SUM(n_copies) AS BIGINT) AS epoch_docs,
      |       CAST(SUM(n_tok * n_copies) AS BIGINT) AS epoch_tokens
      |FROM n GROUP BY lang""".stripMargin)
  )

  /** Chunk geometry for [[qChunkOverlap]]: width and stride in tokens
    * (stride < width ⇒ 50 % overlap here). `final val` literals — the
    * compiler constant-folds them into [[chunkCteSql]], which
    * TextStatsQueries may call BEFORE this object's fields initialize
    * (the mutual-reference cycle; a plain val would read as 0 there). */
  private final val ChunkW = 20
  private final val ChunkS = 10

  /**
   * OVERLAPPING sliding-window chunker — retrieval/RAG prep: split each
   * document into [[ChunkW]]-token windows advancing by [[ChunkS]]
   * (50 % overlap), one row per (doc, chunk) with its position and
   * token count. Overlap is what distinguishes this from
   * [[graft.queries.DedupQueries.spanDedup]]'s NON-overlapping span
   * cut: dedup spans must partition the text exactly once (a token in
   * two spans would double-delete), while retrieval chunks overlap
   * deliberately so no answer span straddles a chunk boundary unseen.
   *
   * Chunk count per doc: 1 + ⌈max(0, len − W) / S⌉, all integer math
   * (the final window may run short; every token is covered; a
   * sub-width document yields exactly one chunk). Pure per-row
   * projection + explode — no shuffle anywhere: the chunker pipelines
   * inside whole-stage codegen and scales embarrassingly.
   */
  /** [[chunkOverlap]]'s oracle replay as a CTE chain ending in
    * `chunks(doc_id, chunk_id, chunk_text, n_tokens)` — shared by the
    * standalone gate and the span-level language-mixture oracle
    * ([[TextStatsQueries.qLangMixture]]). Fragment lines never start
    * with `|` — safe under an outer stripMargin. A `def`, not a `val`:
    * TextStatsQueries reads it while ITS object initializes and the two
    * objects reference each other — the [[DedupQueries.qExactOverlap]]
    * acyclic-initialization discipline. */
  private[queries] def chunkCteSql: String =
    s"""d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL
      |), x AS (
      |  SELECT doc_id, toks, len(toks) AS l FROM d WHERE len(toks) >= 1
      |), c AS (
      |  SELECT doc_id, toks,
      |         unnest(generate_series(0,
      |           CASE WHEN l > $ChunkW
      |                THEN (l - $ChunkW + $ChunkS - 1) // $ChunkS
      |                ELSE 0 END)) AS i
      |  FROM x
      |), chunks AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      |         array_to_string(
      |           toks[i * $ChunkS + 1 : i * $ChunkS + $ChunkW], ' ')
      |           AS chunk_text,
      |         CAST(len(toks[i * $ChunkS + 1 : i * $ChunkS + $ChunkW])
      |              AS BIGINT) AS n_tokens
      |  FROM c
      |)""".stripMargin

  val qChunkOverlap = Q(
    "q_chunk_overlap",
    (s, dir) => chunkOverlap(docs(s, dir)),
    Some(s"""WITH $chunkCteSql
      |SELECT doc_id, chunk_id, chunk_text, n_tokens FROM chunks""".stripMargin)
  )

  /** [[qChunkOverlap]]'s body over an ARBITRARY `(doc_id, text)`
    * frame. */
  private[graft] def chunkOverlap(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("l", size(col("toks")))
      .filter(col("l") >= 1)
      .withColumn("n_extra",
        when(col("l") > ChunkW,
             expr(s"(l - $ChunkW + $ChunkS - 1) div $ChunkS"))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("toks"),
              explode(sequence(lit(0L), col("n_extra"))).as("i"))
      .select(
        col("doc_id"), col("i").cast("long").as("chunk_id"),
        array_join(slice(col("toks"),
                         (col("i") * ChunkS + 1).cast("int"), lit(ChunkW)),
                   " ").as("chunk_text"),
        size(slice(col("toks"),
                   (col("i") * ChunkS + 1).cast("int"), lit(ChunkW)))
          .cast("long").as("n_tokens"))

  /** Bucket count for [[qDecileAssign]]. */
  private val Deciles = 10

  /**
   * EXACT decile assignment (NTILE semantics) at corpus scale — the
   * bucketing behind "train on the top quality decile" curation
   * policies. The textbook formulation, `NTILE(10) OVER (ORDER BY …)`,
   * is a GLOBAL window: every row through one task — the same
   * scale-killer [[graft.operators.GlobalRank]] exists to avoid. Here
   * the global position comes from the range-exchange rank
   * decomposition, and the bucket is NTILE's exact integer arithmetic
   * over (rank, n): the first `n mod k` buckets take `⌈n/k⌉` rows, the
   * rest `⌊n/k⌋` — replayed bit-for-bit by the oracle's real NTILE.
   * The sort key (n_chars, doc_id) is a total order, so the bucket of
   * every row is deterministic under any partitioning.
   */
  val qDecileAssign = Q(
    "q_decile_assign",
    (s, dir) =>
      ntileAssign(Tables.read(s, dir, "documents").select("doc_id", "n_chars"),
                  Deciles,
                  s.conf.get("spark.sql.shuffle.partitions").toInt),
    Some(s"""SELECT doc_id, n_chars,
      |       CAST(NTILE($Deciles) OVER (ORDER BY n_chars, doc_id)
      |            AS BIGINT) AS decile
      |FROM documents""".stripMargin)
  )

  /** [[qDecileAssign]]'s body over an ARBITRARY `(doc_id, n_chars)`
    * frame: NTILE(k)'s exact bucket arithmetic over the GlobalRank
    * position. */
  private[graft] def ntileAssign(d: DataFrame, k: Int,
                                 numPartitions: Int): DataFrame =
    ntileOver(d, Seq(col("n_chars").asc, col("doc_id").asc), k,
              numPartitions, "decile")
      .select("doc_id", "n_chars", "decile")

  /** NTILE(k) OVER (ORDER BY `sortCols`) at corpus scale, as `outCol`
    * on an ARBITRARY frame — the general seam ([[ntileAssign]]'s and
    * the RFM quartiles'): global position from the range-exchange rank
    * decomposition, then NTILE's exact bucket arithmetic — first
    * `n mod k` buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋. `sortCols`
    * must be a total order for the bucket to be deterministic. */
  private[graft] def ntileOver(d: DataFrame, sortCols: Seq[Column], k: Int,
                               numPartitions: Int, outCol: String): DataFrame = {
    val n = d.count()
    val ranked = graft.operators.GlobalRank.withGlobalRank(
      d, sortCols, numPartitions, "__rnk")
    val base = n / k
    val big = n % k
    val threshold = big * (base + 1)
    // `div` (integral division), never `/` — Spark's `/` on longs is
    // double division; the NTILE arithmetic must stay exact-integer
    val bucket =
      if (base == 0) expr(s"(__rnk - 1) div ${base + 1} + 1")
      else when(col("__rnk") <= threshold,
                expr(s"(__rnk - 1) div ${base + 1} + 1"))
             .otherwise(expr(s"$big + (__rnk - 1 - $threshold) div $base + 1"))
    ranked.withColumn(outCol, bucket.cast("long")).drop("__rnk")
  }

  /**
   * WINSORIZATION — clip `n_chars` at the corpus' discrete P5/P95
   * (elements at ranks ⌈0.05n⌉ and ⌈0.95n⌉ under the (value, doc_id)
   * total order): the outlier-capping pass run before any
   * moment-based statistic or normalization that a heavy tail would
   * dominate. DISCRETE quantiles — an element of the set, never an
   * interpolated float — so both engines pick the identical threshold
   * (the [[qOutlierMad]] median discipline), and the global positions
   * come from [[graft.operators.GlobalRank]]'s range-exchange rank,
   * never a single-task window. Thresholds rejoin as a broadcast
   * 1-row frame; the clip itself is a codegen'd greatest/least.
   */
  /**
   * SOURCE COMPOSITION report with duplication-aware accounting — the
   * first dashboard a corpus owner reads before weighting sources: per
   * (source, lang), document and character volume, null-text count,
   * distinct-content count (the exact-dedup hash), and the implied
   * duplicate surplus — "which sources ship how much, in what
   * language, and how much of it is copies". All exact integers; one
   * map-combinable aggregate (`count(distinct)` expands to the
   * standard two-phase plan) over a group count of sources×languages —
   * grows with the corpus catalog, never a single hot group. Null text
   * is accounted, not conflated: it joins `n_docs`/`n_null_text` but
   * neither the distinct-hash count nor the surplus (a null hash is
   * absent from both, so `n_dup_docs = (n_docs − n_null_text) −
   * n_distinct` stays exact).
   */
  val qSourceReport = Q(
    "q_source_report",
    (s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
                col("text").isNull.cast("long").as("is_null"),
                graft.text.TextOps.contentHash(col("text")).as("ch"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_chars").as("sum_chars"),
             sum("is_null").as("n_null_text"),
             countDistinct(col("ch")).as("n_distinct"),
             (count(col("ch")) - countDistinct(col("ch"))).as("n_dup_docs")),
    Some("""SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null_text,
      |       CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)),
      |                                              '\s+', ' ', 'g')))
      |            AS BIGINT) AS n_distinct,
      |       CAST(COUNT(text) - COUNT(DISTINCT md5(regexp_replace(
      |              lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT)
      |         AS n_dup_docs
      |FROM documents GROUP BY source, lang""".stripMargin)
  )

  /** Hard per-source document cap for [[qSourceCap]]. */
  private val SourceCap = 10

  /**
   * HARD per-source frequency cap — the C4/Gopher domain-cap pass: at
   * most [[SourceCap]] documents survive per source, drawn as the
   * salted-md5 rank prefix (the [[graft.queries.SimQueries]] cluster-
   * budget draw applied to the source axis). Complements the two
   * existing downsamplers exactly where they don't reach:
   * [[qStratifiedSample]] keeps a RATE per stratum (a mega-source
   * still dominates after rate-sampling), and the mixture/temperature
   * passes REWEIGHT; this is the absolute ceiling that stops any
   * single domain from owning the corpus regardless of its size.
   * Deterministic under any partitioning via the salted-hash order
   * (`md5('cap:' || doc_id)` — a new salt is a fresh draw), never
   * `rand()`.
   *
   * Scale: one rank window partitioned by SOURCE — source count grows
   * with the corpus catalog, so the window scales out; a mega-source
   * costs one partition of its own size (the documented per-group skew
   * class; at 100 TB the practical mitigation is a per-partition
   * pre-rank candidate cut, which this plan's `rn <= cap` filter
   * already lets AQE shrink downstream of).
   */
  val qSourceCap = Q(
    "q_source_cap",
    (s, dir) => sourceCapOf(Tables.read(s, dir, "documents"), SourceCap),
    Some(s"""WITH h AS (
      |  SELECT doc_id, source,
      |         md5('cap:' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents
      |)
      |SELECT doc_id, source,
      |       CAST(row_number() OVER (PARTITION BY source
      |                               ORDER BY h ASC, doc_id ASC) AS BIGINT)
      |         AS rn
      |FROM h
      |QUALIFY rn <= $SourceCap""".stripMargin)
  )

  /** [[qSourceCap]]'s body over an ARBITRARY `(doc_id, source, ...)`
    * frame with the cap as a parameter — the SQL TVF surface's entry
    * point (`graft_source_cap`). */
  private[graft] def sourceCapOf(d: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("h").asc, col("doc_id").asc)
    d.select(col("doc_id"), col("source"),
             md5(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
      .select("doc_id", "source", "rn")
  }

  val qWinsorize = Q(
    "q_winsorize",
    (s, dir) =>
      winsorize(Tables.read(s, dir, "documents").select("doc_id", "n_chars"),
                s.conf.get("spark.sql.shuffle.partitions").toInt),
    Some("""WITH r AS (
      |  SELECT doc_id, n_chars,
      |         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rnk,
      |         COUNT(*) OVER () AS n
      |  FROM documents
      |), th AS (
      |  SELECT CAST(MIN(CASE WHEN rnk = (n * 5 + 99) // 100
      |                       THEN n_chars END) AS BIGINT) AS p5,
      |         CAST(MIN(CASE WHEN rnk = (n * 95 + 99) // 100
      |                       THEN n_chars END) AS BIGINT) AS p95
      |  FROM r
      |)
      |SELECT doc_id, n_chars,
      |       GREATEST(LEAST(n_chars, th.p95), th.p5) AS clipped
      |FROM r, th""".stripMargin)
  )

  /** [[qWinsorize]]'s body over an ARBITRARY `(doc_id, n_chars)` frame
    * — the spec's seam. */
  private[graft] def winsorize(d: DataFrame, numPartitions: Int): DataFrame = {
    val n = d.count()
    val loRank = (n * 5 + 99) / 100
    val hiRank = (n * 95 + 99) / 100
    val ranked = graft.operators.GlobalRank.withGlobalRank(
      d, Seq(col("n_chars").asc, col("doc_id").asc), numPartitions, "__rnk")
    val th = ranked
      .filter(col("__rnk") === loRank || col("__rnk") === hiRank)
      .agg(min(when(col("__rnk") === loRank, col("n_chars"))).as("p5"),
           min(when(col("__rnk") === hiRank, col("n_chars"))).as("p95"))
    ranked.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_chars"),
              greatest(least(col("n_chars"), col("p95")), col("p5"))
                .as("clipped"))
  }

  /** Hashed-feature space size for [[qQualityClassifier]] — the
    * fastText hashing-trick bucket count. 512 keeps the weight table
    * broadcast-trivial (one long per bucket); a deployment raises it
    * to 2²¹ (fastText's default) when collision noise matters, cost
    * unchanged in shape. */
  private[queries] val QcBuckets = 512L

  /** `(doc_id, lang, b)` — one row per token OCCURRENCE with its hashed
    * feature bucket, the shared fanout of the classifier's train and
    * score halves. Portable bucketing: md5-prefix32 mod buckets
    * ([[TextOps.md5Prefix32]] is nonnegative, so `%` agrees across
    * engines). */
  private def tokenBuckets(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
              explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("b", TextOps.md5Prefix32(md5(col("tok"))) % QcBuckets)

  /**
   * fastText-class LINEAR quality classifier over hashed token features
   * — the curation-family scorer a pipeline trains on a labeled
   * reference (curated-good vs crawl-bad) and then applies to every
   * candidate document as a cheap linear pass. Model: the hashing
   * trick (token → md5 bucket, collisions merge features — the
   * fastText recipe), weights = the signed class-count difference
   * `w[b] = n_pos[b] − n_neg[b]` over reference token occurrences (a
   * closed-form Naive-Bayes-flavored fit: exact integers, no
   * iterative training to replay), score = Σ_t w[bucket(t)], decision
   * by SIGN — integer end-to-end, no division anywhere (the
   * cross-engine `div`-vs-`//` negative-flooring trap never arises).
   *
   * The gate's planted label is `lang = 'en'` — the fixture's known
   * class — standing in for any good/bad curation label; the machinery
   * (hash, fit, score, decide) is label-agnostic.
   *
   * Scale shape: train is one map-combinable count aggregate to a
   * `QcBuckets`-row weight table; scoring BROADCASTS that table into
   * an equi-join on the bucket key (map-side, no shuffle of the token
   * fanout) and sums per doc_id — linear in corpus tokens, the
   * [[TextStatsQueries.qLmScore]] class. [[qualityScoreCol]] is the
   * same model as a PURE PROJECTION for the streaming face.
   */
  lazy val qQualityClassifier = Q(
    "q_quality_classifier",
    (s, dir) => {
      val tb = tokenBuckets(docs(s, dir))
      val w = tb.filter(col("doc_id") % 5 =!= 4)
        .groupBy("b")
        .agg(sum(when(col("lang") === "en", 1L).otherwise(-1L)).as("wt"))
      tb.filter(col("doc_id") % 5 === 4)
        .join(broadcast(w), Seq("b"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             sum(coalesce(col("wt"), lit(0L))).as("score_sum"))
        .withColumn("pred_pos",
                    when(col("score_sum") > 0, 1L).otherwise(0L))
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL
      |), tk AS (
      |  SELECT doc_id, lang, unnest(toks) AS tok FROM d
      |), tb AS (
      |  SELECT doc_id, lang,
      |         ${DedupQueries.hex32("md5(tok)")} % $QcBuckets AS b
      |  FROM tk
      |), w AS (
      |  SELECT b,
      |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT)
      |           AS wt
      |  FROM tb WHERE doc_id % 5 <> 4 GROUP BY b
      |), sc AS (
      |  SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |         CAST(SUM(COALESCE(w.wt, 0)) AS BIGINT) AS score_sum
      |  FROM tb LEFT JOIN w ON tb.b = w.b
      |  WHERE tb.doc_id % 5 = 4
      |  GROUP BY tb.doc_id
      |)
      |SELECT doc_id, n_tokens, score_sum,
      |       CASE WHEN score_sum > 0 THEN CAST(1 AS BIGINT)
      |            ELSE CAST(0 AS BIGINT) END AS pred_pos
      |FROM sc""".stripMargin)
  )

  /** Materialize the trained weight table as the `QcBuckets`-long array
    * [[qualityScoreCol]] scores against — the offline model-build step
    * (one count aggregate + a bounded 512-row collect; the
    * probeIvfLayout driver-collect discipline). `ref` must carry
    * (text, lang) — lang is the planted label source, as in the gate. */
  private[graft] def trainQualityWeights(ref: DataFrame): Seq[Long] = {
    val m = tokenBuckets(ref)
      .groupBy("b")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(-1L)).as("wt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq.tabulate(QcBuckets.toInt)(b => m.getOrElse(b.toLong, 0L))
  }

  /** The classifier as a PURE PROJECTION — score a text column against
    * a materialized weight ARRAY (index b+1 = w[b], the driver-side
    * collect of the trained table; `QcBuckets` longs, a broadcast-
    * trivial literal): per row, Σ_t w[bucket(t)] via HOF aggregate.
    * This is what makes the streaming face free — stateless, no join,
    * no state store — and `QualityClassifierSpec` pins it equal to the
    * join formulation. */
  private[graft] def qualityScoreCol(text: Column, weights: Seq[Long]): Column = {
    val wArr = array(weights.map(lit): _*)
    aggregate(
      transform(TextOps.tokens(text),
                t => element_at(wArr,
                       (TextOps.md5Prefix32(md5(t)) % QcBuckets).cast("int") + 1)),
      lit(0L), (acc, x) => acc + x)
  }

  /**
   * Token packing over the REAL tokenizer's output — [[qTokenPacking]]
   * with whitespace-token counts replaced by BPE subword counts
   * ([[graft.expr.BpeEncode]] under the corpus-learned merge list):
   * pack boundaries land where the tokenizer the training run actually
   * uses says they do, which is the number that matters for sequence
   * budgets (whitespace counts over- or under-fill packs by the corpus'
   * compression ratio). Same greedy per-source running-sum shape, same
   * budget; only documents with text participate (the encode
   * contract). Oracle composes the shared BPE recursive replay
   * ([[TextStatsQueries]] `bpeSbCte`) with [[qTokenPacking]]'s window
   * — one statement of each, no drift surface.
   */
  lazy val qBpePacking = Q(
    "q_bpe_packing",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents").filter(col("text").isNotNull)
      val merges = TextStatsQueries.bpeLearnMerges(d)
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val subs = ColumnBridge.column(graft.expr.BpeEncode(
        ColumnBridge.expression(col("text")), merges))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.select(col("doc_id"), col("source"),
               size(subs).cast("long").as("n_sub"))
        .withColumn("sub_before", coalesce(sum("n_sub").over(w), lit(0L)))
        .withColumn("pack_id", expr(s"sub_before div $PackBudget"))
        .select("doc_id", "source", "n_sub", "pack_id")
    },
    Some(s"""${TextStatsQueries.bpeSbCte},
      |nt AS (
      |  SELECT dn.doc_id, COALESCE(s.ns, 0) AS n_sub
      |  FROM dn LEFT JOIN (
      |    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns
      |    FROM sb GROUP BY doc_id) s ON dn.doc_id = s.doc_id
      |), t AS (
      |  SELECT dd.doc_id, dd.source, nt.n_sub
      |  FROM documents dd JOIN nt ON dd.doc_id = nt.doc_id
      |), cw AS (
      |  SELECT doc_id, source, n_sub,
      |         CAST(COALESCE(SUM(n_sub) OVER (
      |           PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS sub_before
      |  FROM t
      |)
      |SELECT doc_id, source, n_sub, sub_before // $PackBudget AS pack_id
      |FROM cw""".stripMargin)
  )

  /** Feature-hash bucket count for the DSIR family. 2¹⁰ buckets: dense
    * enough that the fixture's ~40-word vocabulary (unigrams + bigrams)
    * collides rarely, small enough that the weight table broadcasts as
    * a few KB at ANY corpus size — the table is B rows by construction,
    * never corpus-scale. (DSIR's published config is 10⁴ buckets; the
    * constant is the deployment's knob.) */
  private val DsirB = 1024L

  /** 10⁶ — both the weight scale (w = 10⁶ ≡ likelihood ratio 1, i.e.
    * "looks equally target-like and raw-like") and the resample
    * probability denominator. */
  private val DsirScale = 1000000L

  /** The planted target label: `lang = 'en'` stands in for "a trusted
    * high-quality corpus" (Wikipedia/books in the published recipe);
    * the machinery is label-agnostic — a deployment binds any target
    * predicate or a separate target table. */
  private val DsirTarget = "en"

  /**
   * DSIR-style importance scoring (Data Selection via Importance
   * Resampling, Xie et al. 2023 — arXiv:2302.03169): estimate target
   * and raw bag-of-hashed-n-gram distributions (unigrams + bigrams →
   * `DsirB` buckets), then score each candidate document by how
   * target-like its features are. The published scorer sums LOG
   * likelihood ratios; `ln` is the one operation this engine's
   * exact-integer discipline forbids (engine-divergent rounding, see
   * [[TextStatsQueries]] BM25 notes), so the scorer here sums the
   * SCALED RATIOS themselves — Σ_occ ⌊10⁶·p̂(b)/q̂(b)⌋, Laplace-smoothed
   * — a deliberate surrogate that keeps the same hashed-feature signal
   * and the same linear-in-tokens cost while staying bit-reproducible
   * in any engine. The per-bucket ratio is evaluated once (B rows)
   * through an IDENTICAL IEEE double expression tree on both gate
   * faces (the [[CoreQueries.qAbSignificance]] determinism argument:
   * ×, / are correctly-rounded, so ⌊·⌋ lands identically; an integer
   * cross-product would overflow 64-bit at ~10⁹ target tokens), then
   * floored to a BIGINT — everything per-document after that is exact
   * integer sums.
   *
   * Scale shape: one explode pass over corpus tokens (checkpointed —
   * consumed by three aggregates); bucket counts are map-side-combined
   * to ≤ B rows; the weight table BROADCASTS into the scoring join (no
   * shuffle of the feature fanout); the per-doc sum is the one
   * corpus-scale shuffle, carrying (doc_id, partial sums) after
   * partial aggregation. Linear in corpus tokens — the
   * [[TextStatsQueries.qLmScore]] cost class.
   */
  /** (doc_id, lang, sel_h, b) per feature occurrence — consumed by
    * three aggregates per scoring call AND by three GATES per process
    * (q_dsir_weights, q_dsir_resample, the streaming face's training
    * leg), so it is a parquet artifact under [[LayoutQueries.memo]]
    * (like [[DedupQueries]] cachedBandSigs): the md5-per-feature
    * explode pass over the corpus runs once per process, not once per
    * gate. Pure materialization — hashing is deterministic in (code,
    * input), and each gate's oracle replays the whole derivation
    * independently, so the memo cannot mask a regression. sel_h rides
    * the explode as an 8-byte constant — cheaper than re-joining the
    * doc frame after the score aggregate. Arbitrary-frame callers
    * ([[dsirScoredOf]]) stay self-contained. */
  private def dsirFeatureFrame(s: SparkSession, dir: String): DataFrame = {
    val out = LayoutQueries.memo(s, dir, "dsir-features") { out =>
      val d = docs(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
                pmod(TextOps.md5Prefix32(
                       md5(concat(lit("dsirsel:"), col("text")))),
                     lit(DsirScale)).as("sel_h"),
                TextOps.tokens(col("text")).as("toks"))
      d.select(col("doc_id"), col("lang"), col("sel_h"),
               explode(concat(col("toks"), TextOps.shingles(col("toks"), 2)))
                 .as("feat"))
        .withColumn("b", pmod(TextOps.md5Prefix32(
                                md5(concat(lit("dsir:"), col("feat")))),
                              lit(DsirB)))
        .drop("feat")
        .write.mode("overwrite").parquet(s"$out/fb")
    }
    s.read.parquet(s"$out/fb")
  }

  /** The ≤ `DsirB`-row weight table (b, w) over a feature frame —
    * w_b = ⌊10⁶ · p̂(b)/q̂(b)⌋ with p̂(b) = (tgt_b+1)/(T+B), q̂(b) =
    * (raw_b+1)/(R+B) — grouping pinned to ((10⁶·x)·y)/(u·v) so the
    * oracle's left-assoc SQL reproduces every intermediate rounding. */
  private def dsirWeightsOf(fb: DataFrame): DataFrame = {
    // ONE grouped pass over the corpus-scale feature frame: raw_b and
    // tgt_b (an indicator sum) come out of the same aggregate, and the
    // totals derive from the ≤ DsirB-row bucket table (Σ raw_b ≡ COUNT(*);
    // DsirSpec pins the two forms equal; OPTIMIZATION_r22.md). The bucket
    // table has two consumers (totals + weights), so it is pinned and fb
    // is scanned exactly once.
    val dbl = (c: Column) => c.cast("double")
    val wExpr = floor(lit(1000000.0) * dbl(col("tgt_b") + 1) *
                        dbl(col("r_tot") + DsirB) /
                        (dbl(col("raw_b") + 1) * dbl(col("t_tot") + DsirB)))
      .cast("long").as("w")
    val cnt = fb.groupBy("b").agg(
      count(lit(1)).as("raw_b"),
      sum(when(col("lang") === DsirTarget, 1L).otherwise(0L)).as("tgt_b"))
      .localCheckpoint()
    val tot = cnt.agg(sum("raw_b").as("r_tot"), sum("tgt_b").as("t_tot"))
    cnt.crossJoin(broadcast(tot)).select(col("b"), wExpr)
  }

  private[queries] def dsirScored(s: SparkSession, dir: String): DataFrame = {
    val fb = dsirFeatureFrame(s, dir)
    fb.join(broadcast(dsirWeightsOf(fb)), Seq("b"))
      .groupBy("doc_id")
      .agg(max(col("lang")).as("lang"), max(col("sel_h")).as("sel_h"),
           count(lit(1)).as("n_feats"), sum(col("w")).as("imp_sum"))
      .withColumn("imp_bp", expr("imp_sum div n_feats"))
  }

  /** Materialize the trained DSIR weight table as a `DsirB`-long array
    * (index b+1 = w_b; absent buckets — no raw occurrence anywhere — 0)
    * for the pure-projection face: the offline model-build step, a
    * bounded 1024-row collect (the [[trainQualityWeights]] discipline). */
  private[graft] def trainDsirWeights(s: SparkSession, dir: String): Seq[Long] = {
    val m = dsirWeightsOf(dsirFeatureFrame(s, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq.tabulate(DsirB.toInt)(b => m.getOrElse(b.toLong, 0L))
  }

  /** [[dsirScored]] generalized to TWO ARBITRARY `(doc_id, text, …)`
    * frames — the deployment-realistic API (`graft_dsir_score` TVF):
    * estimate the target distribution from `target`, the raw
    * distribution from `raw`, score every raw document. The gate's
    * single-table form is the special case target = raw WHERE
    * lang = target-label (embedded label, one feature pass);
    * `DsirSpec` pins the two forms equal on exactly that binding.
    * Totals derive from the ≤ `DsirB`-row count tables (sum over
    * buckets ≡ count over occurrences), so the only corpus-scale work
    * is the raw feature pass + the per-doc aggregate. */
  private[graft] def dsirScoredOf(raw: DataFrame, target: DataFrame): DataFrame = {
    def fb(df: DataFrame) = df.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(dsirFeatsCol(col("text"))).as("feat"))
      .withColumn("b", pmod(TextOps.md5Prefix32(
                              md5(concat(lit("dsir:"), col("feat")))),
                            lit(DsirB)))
      .drop("feat")
    val rawFb = checkpointCompact(fb(raw))
    val rawCnt = rawFb.groupBy("b").agg(count(lit(1)).as("raw_b"))
    val tgtCnt = fb(target).groupBy("b").agg(count(lit(1)).as("tgt_b"))
    val tot = broadcast(
      rawCnt.agg(sum("raw_b").as("r_tot"))
        .crossJoin(tgtCnt.agg(coalesce(sum("tgt_b"), lit(0L)).as("t_tot"))))
    val dbl = (c: Column) => c.cast("double")
    val weights = rawCnt.join(tgtCnt, Seq("b"), "left").na.fill(0L, Seq("tgt_b"))
      .crossJoin(tot)
      .select(col("b"),
              floor(lit(1000000.0) * dbl(col("tgt_b") + 1) *
                      dbl(col("r_tot") + DsirB) /
                      (dbl(col("raw_b") + 1) * dbl(col("t_tot") + DsirB)))
                .cast("long").as("w"))
    rawFb.join(broadcast(weights), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("imp_sum"))
      .withColumn("imp_bp", expr("imp_sum div n_feats"))
  }

  /** The DSIR feature stream of one document — unigrams ++ bigrams, the
    * single definition both faces hash from. */
  private[graft] def dsirFeatsCol(text: Column): Column = {
    val toks = TextOps.tokens(text)
    concat(toks, TextOps.shingles(toks, 2))
  }

  /** DSIR scoring as a PURE PROJECTION against the materialized weight
    * array — Σ_feat w[bucket(feat)] via HOF aggregate; what makes the
    * streaming face stateless (no join, no state store). Every bucket a
    * scored document touches exists in the trained table whenever the
    * model was trained on a corpus containing it; unseen buckets read
    * the array's 0. */
  private[graft] def dsirScoreCol(feats: Column, weights: Seq[Long]): Column = {
    val wArr = array(weights.map(lit): _*)
    aggregate(
      transform(feats,
                f => element_at(wArr,
                       (TextOps.md5Prefix32(md5(concat(lit("dsir:"), f)))
                          % DsirB).cast("int") + 1)),
      lit(0L), (acc, x) => acc + x)
  }

  /** Shared oracle CTE chain for the DSIR pair, ending in a
    * `sc(doc_id, lang, sel_h, n_feats, imp_sum, imp_bp)` relation —
    * one statement of the hash/smoothing/rounding pipeline, so the two
    * gates cannot drift on the model. */
  private def dsirScoredSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
       |         ${DedupQueries.hex32("md5('dsirsel:' || text)")} % $DsirScale
       |           AS sel_h
       |  FROM documents WHERE text IS NOT NULL
       |), f AS (
       |  SELECT doc_id, lang, sel_h,
       |         unnest(list_concat(toks,
       |           list_transform(generate_series(1, len(toks) - 1),
       |                          i -> toks[i] || ' ' || toks[i + 1]))) AS feat
       |  FROM d
       |), fb AS (
       |  SELECT doc_id, lang, sel_h,
       |         ${DedupQueries.hex32("md5('dsir:' || feat)")} % $DsirB AS b
       |  FROM f
       |), raw AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS raw_b FROM fb GROUP BY b
       |), tgt AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS tgt_b
       |  FROM fb WHERE lang = '$DsirTarget' GROUP BY b
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS r_tot,
       |         CAST(SUM(CASE WHEN lang = '$DsirTarget' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS t_tot
       |  FROM fb
       |), w AS (
       |  SELECT raw.b,
       |         CAST(FLOOR(1000000.0 * CAST(COALESCE(tgt_b, 0) + 1 AS DOUBLE)
       |                              * CAST(r_tot + $DsirB AS DOUBLE)
       |                    / (CAST(raw_b + 1 AS DOUBLE)
       |                       * CAST(t_tot + $DsirB AS DOUBLE)))
       |              AS BIGINT) AS w
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
       |), sc AS (
       |  SELECT doc_id, MAX(lang) AS lang, MAX(sel_h) AS sel_h,
       |         CAST(COUNT(*) AS BIGINT) AS n_feats,
       |         CAST(SUM(w.w) AS BIGINT) AS imp_sum,
       |         CAST(SUM(w.w) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS imp_bp
       |  FROM fb JOIN w ON fb.b = w.b GROUP BY doc_id
       |)""".stripMargin

  /** DSIR importance weights per candidate document — the scoring half
    * (see [[dsirScored]]): n_feats, the exact imp_sum of scaled
    * per-feature ratios, and imp_bp = imp_sum div n_feats (the average
    * scaled ratio; 10⁶ ≡ "as target-like as raw-like"). */
  lazy val qDsirWeights = Q(
    "q_dsir_weights",
    (s, dir) => dsirScored(s, dir)
      .select("doc_id", "lang", "n_feats", "imp_sum", "imp_bp"),
    Some(s"""$dsirScoredSql
      |SELECT doc_id, lang, n_feats, imp_sum, imp_bp FROM sc""".stripMargin)
  )

  /**
   * DSIR resampling — the selection half: keep each document with
   * probability min(1, imp_bp/10⁶) via the deterministic hash-threshold
   * draw (`sel_h < min(10⁶, imp_bp)`; independent Bernoulli rejection
   * sampling, the distributed stand-in for the paper's Gumbel top-k,
   * which needs both `ln` and a global sort). Above-neutral documents
   * (imp_bp ≥ 10⁶ — more target-like than the raw pool) always
   * survive; raw-like documents survive in proportion to their ratio.
   * Deterministic under any partitioning or re-run — the
   * [[qSplitAssign]] argument — and a fresh draw is one salt change
   * away.
   */
  lazy val qDsirResample = Q(
    "q_dsir_resample",
    (s, dir) => dsirScored(s, dir)
      .filter(col("sel_h") < least(lit(DsirScale), col("imp_bp")))
      .select(col("doc_id"), col("lang"), col("imp_bp"),
              col("sel_h").as("h")),
    Some(s"""$dsirScoredSql
      |SELECT doc_id, lang, imp_bp, sel_h AS h FROM sc
      |WHERE sel_h < LEAST($DsirScale, imp_bp)""".stripMargin)
  )

  /**
   * TEMPERATURE-rebalanced mixture (the multilingual exponential-
   * smoothing practice, α = 1/2: sample shares ∝ n_g^α): the
   * data-DERIVED sibling of [[qMixtureSample]] — instead of a target
   * list, the weights come from the corpus itself, w_g = ⌊√n_g⌋, which
   * UPSAMPLES rare groups relative to their raw share (the reason
   * multilingual pretraining uses it: a head language at 96 % of the
   * crawl should not be 96 % of training). ⌊√·⌋ through an identical
   * IEEE tree on both faces (sqrt is correctly-rounded); everything
   * after is exact integers: feasible total T = min_g ⌊n_g·W/w_g⌋ — the
   * SMALLEST group binds and is kept in full — keep_g = ⌊T·w_g/W⌋,
   * drawn as the md5-rank prefix through md5-prefix buckets (never a
   * one-task per-group window; see [[temperatureMixture]]).
   */
  lazy val qTemperatureMixture = Q(
    "q_temperature_mixture",
    (s, dir) => temperatureMixture(Tables.read(s, dir, "documents"), "lang"),
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang, md5('tmix:' || COALESCE(text, '')) AS h
      |  FROM documents
      |), c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY lang
      |), w AS (
      |  SELECT lang, n,
      |         CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS wt
      |  FROM c
      |), tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM w),
      |t AS (SELECT MIN(n * tot // wt) AS t FROM w CROSS JOIN tw),
      |k AS (
      |  SELECT lang, (SELECT t FROM t) * wt // (SELECT tot FROM tw) AS keep_n
      |  FROM w
      |), r AS (
      |  SELECT doc_id, lang,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |                                 ORDER BY h, doc_id) AS BIGINT) AS rn
      |  FROM d
      |)
      |SELECT r.doc_id, r.lang, r.rn
      |FROM r JOIN k ON r.lang = k.lang
      |WHERE r.rn <= k.keep_n""".stripMargin)
  )

  /** [[qTemperatureMixture]]'s body over an ARBITRARY
    * `(doc_id, <group>, text)` frame, drawn through [[hashPrefixDraw]].
    * (Integer-range note: n·W and T·w stay under 2⁶³ while
    * n_g·Σ⌊√n_g⌋ does — ~10¹² docs across ~10³ groups; past that, lift
    * to decimal(38).) */
  private[graft] def temperatureMixture(d0: DataFrame,
                                        groupCol: String): DataFrame = {
    val d = d0.select(col("doc_id"), col(groupCol),
                      md5(concat(lit("tmix:"), coalesce(col("text"), lit(""))))
                        .as("h"))
    hashPrefixDraw(d, groupCol) { buckets =>
      val all = Window.partitionBy()
      buckets
        .withColumn("wt", expr("cast(floor(sqrt(cast(n as double))) as bigint)"))
        .withColumn("tot", sum(when(col("off") === 0, col("wt"))).over(all))
        .withColumn("t", min(expr("n * tot div wt")).over(all))
        .withColumn("keep_n", expr("t * wt div tot"))
    }
  }

  /**
   * THE one-call PRETRAINING-CORPUS composition — what a user actually
   * runs end-to-end: quality-aware canonical dedup (keep the fullest
   * copy of every duplicate cluster,
   * [[DedupQueries.canonicalCorpus]]) → Gopher repetition gate
   * ([[repetitionSignals]], the shared inequality) → temperature-
   * rebalanced mixture draw ([[temperatureMixture]], α = 1/2 by lang).
   * Each stage is the SAME body as its standalone gate — the oracle
   * interpolates the same shared CTE fragments
   * ([[DedupQueries.canonicalKeptCte]], [[repSignalCtes]], the tmix
   * chain), so a threshold or semantics change cannot reach the
   * standalone gate and miss the composition (the `dedupedKeptCte`
   * discipline). Differs from [[qCuratedCorpus]] in both selection
   * rules: fullest-copy survivors (not min-id) and a data-derived
   * mixture draw (not a hash split).
   */
  lazy val qPretrainCorpus = Q(
    "q_pretrain_corpus",
    (s, dir) => pretrainCorpusOf(docs(s, dir)),
    Some(s"""${DedupQueries.canonicalKeptCte},
      |${repSignalCtes("r")},
      |gated AS (
      |  SELECT dd.doc_id, dd.lang, dd.text
      |  FROM documents dd JOIN ckept k ON dd.doc_id = k.doc_id
      |  LEFT JOIN rua ON rua.doc_id = dd.doc_id
      |  LEFT JOIN rba ON rba.doc_id = dd.doc_id
      |  WHERE NOT (${repGateSql("COALESCE(rba.top_bigram_n, 0)",
                                 "COALESCE(rba.n_bigrams, 0)",
                                 "COALESCE(rua.n_types, 0)",
                                 "COALESCE(rua.n_tok, 0)")})
      |    AND ${WebQueries.safeSql("dd.text")}
      |),
      |td AS (
      |  SELECT doc_id, lang, md5('tmix:' || COALESCE(text, '')) AS h
      |  FROM gated
      |), tc AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM td GROUP BY lang
      |), tww AS (
      |  SELECT lang, n,
      |         CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS wt
      |  FROM tc
      |), ttot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM tww),
      |tt AS (SELECT MIN(n * tot // wt) AS t FROM tww CROSS JOIN ttot),
      |tk AS (
      |  SELECT lang,
      |         (SELECT t FROM tt) * wt // (SELECT tot FROM ttot) AS keep_n
      |  FROM tww
      |), tr AS (
      |  SELECT doc_id, lang,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |                                 ORDER BY h, doc_id) AS BIGINT) AS rn
      |  FROM td
      |)
      |SELECT tr.doc_id, tr.lang, tr.rn
      |FROM tr JOIN tk ON tr.lang = tk.lang
      |WHERE tr.rn <= tk.keep_n""".stripMargin)
  )

  /** [[qPretrainCorpus]]'s body over an ARBITRARY
    * `(doc_id, text, lang, n_chars, …)` frame — the
    * `graft_pretrain('docs')` TVF delegate. */
  def pretrainCorpusOf(docsDf: DataFrame): DataFrame = {
    val kept = DedupQueries.canonicalCorpusOf(docsDf).select("doc_id")
    // The canonical-survivor frame has THREE consumers (repetition
    // signals, safety gate, mixture draw). Pin-by-consumer-count (the
    // spanDedupCdc policy): ≥ 2 consumers → checkpoint. Measured A/B,
    // isolated at sf0.1, 3 runs each (round 16, BASELINE.md):
    // uncheckpointed 10.5/10.5/11.5 s vs checkpointed 8.7/9.1/9.1 s —
    // a ~14 % win, modest because ReuseExchange already dedupes the
    // identical consumer subtrees inside the one composed DAG and the
    // dedup fixpoint checkpoints internally; the checkpoint's real
    // value is severing the triple-consumer lineage so the composed
    // plan cannot regress when a consumer stops being subtree-identical
    // (exactly what adding the safety stage did to the r15 plan).
    val survivors =
      checkpointCompact(docsDf.join(kept, Seq("doc_id"), "left_semi"))
    val repetitive = repetitionSignals(survivors.select("doc_id", "text"))
      .filter(col("repetitive") === 1).select("doc_id")
    val blocked = WebQueries.safetyFrame(survivors.select("doc_id", "text"))
      .filter(col("blocked") === 1).select("doc_id")
    // The GATED frame feeds temperatureMixture, which consumes it twice
    // (bucket counts + the ranked rows), and each evaluation would re-run
    // both anti-join sides (plans/r22): ≥ 2 consumers → checkpoint,
    // projected to the three columns the mixture reads.
    val gated = checkpointCompact(survivors
      .join(repetitive, Seq("doc_id"), "left_anti")
      .join(blocked, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "text"))
    temperatureMixture(gated, "lang")
  }

  /** Mask rate (percent of token positions) for [[qSpanCorrupt]]. */
  private val CorruptPct = 15

  /**
   * T5/UL2-style SPAN CORRUPTION prep: turn each document into the
   * (input, target) pair a denoising pretraining objective consumes —
   * token positions masked at [[CorruptPct]] % by a DETERMINISTIC
   * per-(doc, position) hash draw, ADJACENT masked tokens coalesced
   * into one numbered sentinel (exactly what span corruption produces:
   * `<extra_id_k>` replaces the whole run in the input, and the target
   * is the sentinel-prefixed run contents in order). The hash draw
   * replaces the published RNG: reproducible under any partitioning,
   * re-run, or cluster size — the property a training pipeline needs
   * for resumable preprocessing — and a fresh corruption is one salt
   * change away.
   *
   * Shape: gaps-and-islands over the exploded token stream (two
   * per-doc windows — partitioned by doc_id, scales with the doc
   * count), runs re-aggregated by position-sorted collect, pieces
   * re-joined per document. Shuffles carry (doc_id, pos, token)
   * triples and run summaries — never the document twice.
   */
  lazy val qSpanCorrupt = Q(
    "q_span_corrupt",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
                posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("mflag",
          (pmod(TextOps.md5Prefix32(
                  md5(concat(lit("mask:"), col("doc_id"), lit(":"), col("pos")))),
                lit(100L)) < CorruptPct).cast("int"))
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val runs = d
        .withColumn("chg",
          when(lag("mflag", 1).over(wDoc).isNull ||
               col("mflag") =!= lag("mflag", 1).over(wDoc), 1).otherwise(0))
        .withColumn("run_id", sum("chg").over(wDoc))
        .groupBy("doc_id", "run_id")
        .agg(min(col("pos")).as("rpos"), max(col("mflag")).as("m"),
             count(lit(1)).as("n_tok"),
             expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
               .as("runtext"))
      val wK = Window.partitionBy("doc_id").orderBy("rpos")
      val pieces = runs
        .withColumn("k", sum(col("m")).over(wK) - col("m"))
        .withColumn("inp",
          when(col("m") === 1, concat(lit("<extra_id_"), col("k"), lit(">")))
            .otherwise(col("runtext")))
        .withColumn("tgt",
          when(col("m") === 1,
               concat(lit("<extra_id_"), col("k"), lit("> "), col("runtext"))))
      pieces.groupBy("doc_id")
        .agg(
          expr("array_join(transform(array_sort(collect_list(struct(rpos, inp))), x -> x.inp), ' ')")
            .as("input_text"),
          expr("array_join(transform(array_sort(collect_list(CASE WHEN tgt IS NOT NULL THEN struct(rpos, tgt) END)), x -> x.tgt), ' ')")
            .as("target_text"),
          sum(when(col("m") === 1, col("n_tok")).otherwise(0L)).as("n_masked"))
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL
      |), tk AS (
      |  SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS pos,
      |         unnest(toks) AS tok
      |  FROM d
      |), mf AS (
      |  SELECT doc_id, pos, tok,
      |         CASE WHEN ${DedupQueries.hex32(
                       "md5('mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))")}
      |                   % 100 < $CorruptPct THEN 1 ELSE 0 END AS mflag
      |  FROM tk
      |), rn AS (
      |  SELECT *, CASE WHEN LAG(mflag) OVER w IS NULL
      |                   OR mflag <> LAG(mflag) OVER w THEN 1 ELSE 0 END AS chg
      |  FROM mf WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |), rs AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY doc_id ORDER BY pos
      |                           ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM rn
      |), runs AS (
      |  SELECT doc_id, run_id, MIN(pos) AS rpos, MAX(mflag) AS m,
      |         CAST(COUNT(*) AS BIGINT) AS n_tok,
      |         string_agg(tok, ' ' ORDER BY pos) AS runtext
      |  FROM rs GROUP BY doc_id, run_id
      |), pieces AS (
      |  SELECT *,
      |         SUM(m) OVER (PARTITION BY doc_id ORDER BY rpos
      |                      ROWS UNBOUNDED PRECEDING) - m AS k
      |  FROM runs
      |)
      |SELECT doc_id,
      |       string_agg(CASE WHEN m = 1
      |                       THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
      |                       ELSE runtext END, ' ' ORDER BY rpos) AS input_text,
      |       COALESCE(string_agg(CASE WHEN m = 1
      |                    THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || runtext
      |                  END, ' ' ORDER BY rpos), '') AS target_text,
      |       CAST(SUM(CASE WHEN m = 1 THEN n_tok ELSE 0 END) AS BIGINT)
      |         AS n_masked
      |FROM pieces GROUP BY doc_id""".stripMargin)
  )

  /** Sample size for [[qPrioritySample]] (a deployment binds its own). */
  private val PrioK = 50

  /**
   * PRIORITY SAMPLING (Duffield–Lund–Thorup, CACM 2007): a weighted
   * k-sample whose Horvitz–Thompson weights `max(w, τ)` give UNBIASED
   * subset-sum estimates from just k rows — the sampling scheme to use
   * when downstream wants "estimate total tokens/bytes per slice from
   * a tiny sample" rather than uniform rows. Priority p = w/u with
   * u ~ U(0,1]; here u = (md5-hash mod 10⁶ + 1)/10⁶, so
   * p = ⌊w·10⁶/(h+1)⌋ is exact-integer and the draw is deterministic
   * under any partitioning or re-run (the [[qSplitAssign]] argument).
   * τ is the (k+1)-th priority (0 when the population fits in k — the
   * whole corpus IS the sample and est_w degenerates to w exactly).
   *
   * Scale shape: the top-k is `TakeOrderedAndProject` (per-partition
   * bounded heaps, k rows to the driver merge — never a global sort),
   * τ is a second bounded take, and the weights sum map-side. Weight
   * column is n_chars (bytes-ish); any positive weight plugs in.
   */
  lazy val qPrioritySample = Q(
    "q_priority_sample",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
                col("n_chars").cast("long").as("w"),
                (pmod(TextOps.md5Prefix32(
                        md5(concat(lit("prio:"), col("text")))),
                      lit(1000000L)) + 1L).as("u"))
        .withColumn("p", expr("(w * 1000000) div u"))
      val top = d.orderBy(col("p").desc, col("doc_id")).limit(PrioK)
      val tau = d.orderBy(col("p").desc, col("doc_id")).limit(PrioK + 1)
        .agg(when(count(lit(1)) === PrioK + 1, min(col("p")))
               .otherwise(0L).as("tau"))
      top.crossJoin(broadcast(tau))
        .select(col("doc_id"), col("lang"), col("w"), col("p"),
                greatest(col("w"), col("tau")).as("est_w"))
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
      |         ${DedupQueries.hex32("md5('prio:' || text)")} % 1000000 + 1 AS u
      |  FROM documents WHERE text IS NOT NULL
      |), pr AS (
      |  SELECT doc_id, lang, w, (w * 1000000) // u AS p FROM d
      |), top AS (
      |  SELECT * FROM pr ORDER BY p DESC, doc_id LIMIT $PrioK
      |), t1 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS c, MIN(p) AS m
      |  FROM (SELECT p FROM pr ORDER BY p DESC, doc_id LIMIT ${PrioK + 1})
      |), tau AS (
      |  SELECT CASE WHEN c = ${PrioK + 1} THEN m
      |              ELSE CAST(0 AS BIGINT) END AS tau FROM t1
      |)
      |SELECT doc_id, lang, w, p, GREATEST(w, tau) AS est_w
      |FROM top CROSS JOIN tau""".stripMargin)
  )

  val all: Seq[Q] = Seq(qRepetitionFilter, qSplitAssign, qSplitCluster,
                        qUpsampleEpoch, qTokenBudget,
                        qStratifiedSample, qMixtureSample, qTokenPacking,
                        qCuratedCorpus, qShuffleExport, qExportManifest,
                        qChunkOverlap,
                        qDecileAssign, qWinsorize, qSourceReport, qSourceCap,
                        qQualityClassifier, qBpePacking,
                        qDsirWeights, qDsirResample, qPrioritySample,
                        qTemperatureMixture, qSpanCorrupt, qPretrainCorpus)
}
