package graft.expr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.StringType

import graft.operators.{ConnectedComponents, GlobalRank, Joins, TopK}
import graft.queries.{CurationQueries, DedupQueries, IngestQueries, SimQueries,
                      TextStatsQueries, WebQueries}
import graft.session.Sessionize
import graft.streaming.StreamingCuration
import graft.vector.VectorOps

/**
 * SQL TABLE-function surface for the library's whole-operator primitives
 * (`SELECT * FROM graft_asof_join('trades', 'quotes', …)`), registered
 * through Catalyst's `TableFunctionRegistry` — the same mechanism
 * `range(...)` uses — via [[GraftExtensions]] (`injectTableFunction`) or
 * direct registry registration on an existing session
 * ([[GraftTableFunctions.registerAll]]).
 *
 * Each builder resolves its table-name arguments against the ACTIVE
 * session (the analyzer's thread sets it before resolution runs) and
 * delegates to the exact same DataFrame-level operator the Scala API
 * exposes — one implementation, two surfaces, so the SQL face can never
 * drift from the tested operator semantics. Arguments must be foldable
 * (literals or constant expressions): table/column names as strings,
 * sizes as integers — the TVF contract, mirroring how `range`'s bounds
 * work.
 */
object GraftTableFunctions {

  private type TVF =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  private def active: SparkSession = {
    val s = SparkSession.getActiveSession.orNull
    require(s != null, "graft table functions need an active SparkSession")
    s
  }

  /** The constant arguments of one call to table function `fn`, read by
    * position; each reader checks the type (and range) of what it reads
    * and names `fn` in its error. */
  private final class Args(fn: String, args: Seq[Expression]) {
    def n: Int = args.length

    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$fn: $msg")

    def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

    def str(i: Int): String = {
      val e = args(i)
      // type-check BEFORE eval: a foldable non-string (graft_x(42, ...))
      // must fail the promised contract, not coerce via toString
      check(e.dataType == StringType,
            s"argument ${i + 1} must be a constant string, " +
              s"got ${e.dataType.simpleString}")
      val v = e.eval()
      check(v != null, s"argument ${i + 1} must not be null")
      v.toString
    }

    def long(i: Int): Long = args(i).eval() match {
      case n: Int => n.toLong
      case n: Long => n
      case n: Short => n.toLong
      case n: Byte => n.toLong
      case other => fail(s"argument ${i + 1} must be a constant integer, got $other")
    }

    /** Integer argument `name`, in `1..Int.MaxValue`. */
    def int(i: Int, name: String): Int = {
      val v = long(i)
      check(v > 0 && v <= Int.MaxValue,
            s"$name must be positive and at most ${Int.MaxValue}, got $v")
      v.toInt
    }

    def csv(i: Int): Seq[String] =
      str(i).split(',').map(_.trim).filter(_.nonEmpty).toSeq

    /** The table named by argument `i`, on the active session. */
    def table(i: Int): DataFrame = active.table(str(i))

    /** The `(vec_id, q)` quantized frame of the embeddings table named by
      * argument `i`. */
    def vecs(i: Int): DataFrame =
      table(i).select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
  }

  /** One table function. Its SQL name is the text of `usage` before `(`.
    * A call takes `arity` arguments (up to `optional` more), each a
    * constant, and returns the logical plan of the frame `body` builds.
    * Bodies read `a.int` arguments before resolving tables, so a bad
    * value fails on its own check rather than on the table's columns. */
  private def tvf(usage: String, arity: Int, optional: Int = 0)(
      body: Args => DataFrame): TVF = {
    val name = usage.takeWhile(_ != '(')
    require(name.matches("graft_[a-z0-9_]+") && usage.endsWith(")"),
            s"table-function usage must read 'graft_<name>(…)': $usage")
    val takes =
      if (optional > 0) s"$arity or ${arity + optional} arguments"
      else if (arity == 1) "exactly 1 argument"
      else s"exactly $arity arguments"
    (new FunctionIdentifier(name),
     // 5-arg form: (className, db, name, usage, examples) — the 2-arg
     // form would silently drop the usage text from DESCRIBE FUNCTION
     new ExpressionInfo(GraftTableFunctions.getClass.getName, null, name,
                        usage, ""),
     (args: Seq[Expression]) => {
       require(args.length >= arity && args.length <= arity + optional,
               s"$name takes $takes")
       args.zipWithIndex.foreach { case (e, i) =>
         require(e.foldable, s"$name: argument ${i + 1} must be a constant")
       }
       body(new Args(name, args)).queryExecution.logical
     })
  }

  val all: Seq[TVF] = Seq(
    tvf("graft_asof_join(leftTable, rightTable, 'k1,k2', leftTs, rightTs, 'p1,p2')",
        6) { a =>
      Joins.asOfJoin(a.table(0), a.table(1), a.csv(2), a.str(3), a.str(4),
                     a.csv(5))
    },

    tvf("graft_range_join(intervals, points, 'k1', lo, hi, pt, binWidth, inRangeCol)",
        8) { a =>
      Joins.rangeJoinBinned(a.table(0), a.table(1), a.csv(2), a.str(3),
                            a.str(4), a.str(5), a.long(6), a.str(7))
    },

    // Connected-component labels (`ConnectedComponents.labels`): one
    // `(id, lbl)` row per edge-bearing node.
    tvf("graft_components(pairsTable, aCol, bCol)", 3) { a =>
      ConnectedComponents.labels(a.table(0), a.str(1), a.str(2))
    },

    // The map-side-combining `TopK.topK` aggregate, exploded to ranked rows
    // `(group…, rnk, v, id)`.
    tvf("graft_topk(table, 'g1,g2', valueCol, idCol, k)", 5) { a =>
      val groups = a.csv(1).map(col)
      val (v, id) = (a.str(2), a.str(3))
      val k = a.int(4, "k")
      a.table(0)
        .groupBy(groups: _*)
        .agg(TopK.topK(k)(col(v), col(id)).as("__topk"))
        .select(groups :+ expr("posexplode(__topk.items)").as(Seq("__pos", "__item")): _*)
        .select(groups ++ Seq(
          (col("__pos") + 1).cast("int").as("rnk"),
          col("__item.v").as(v), col("__item.id").as(id)): _*)
    },

    // The never-single-partition total-order rank
    // (`GlobalRank.withGlobalRank`). Sort columns ascend by default; suffix
    // `:desc` for descending (`'revenue:desc,id'`). Include a unique
    // tiebreaker — the operator's determinism contract.
    tvf("graft_global_rank(table, 'v:desc,id', numPartitions, rankCol)", 4) { a =>
      val sortCols = a.csv(1).map { spec =>
        // limit -1: bare split(':') drops trailing empty strings, so a
        // truncated "v:" would silently parse as ascending instead of
        // reaching the bad-spec error below
        spec.split(":", -1) match {
          case Array(c) if c.nonEmpty => col(c).asc
          case Array(c, "desc") if c.nonEmpty => col(c).desc
          case Array(c, "asc") if c.nonEmpty => col(c).asc
          case _ => a.fail(s"bad sort spec '$spec' — use 'col' or 'col:desc'")
        }
      }
      val n = a.int(2, "numPartitions")
      GlobalRank.withGlobalRank(a.table(0), sortCols, n, a.str(3))
    },

    // Corpus deduplication over any `(doc_id, text, …)` table, returning the
    // SURVIVING rows. `exact`: keep the min-doc_id row per normalized content
    // (`DedupQueries.exactDedupOf`). `lsh`: the full near-dup composition —
    // exact ∪ MinHash-LSH candidate edges → connected components → one
    // canonical doc per cluster (`DedupQueries.dedupedCorpusOf`).
    tvf("graft_dedup(docsTable, 'exact'|'lsh')", 2) { a =>
      val t = a.table(0)
      a.str(1) match {
        case "exact" => DedupQueries.exactDedupOf(t)
        case "lsh" => DedupQueries.dedupedCorpusOf(t)
        case other => a.fail(s"unknown mode '$other' — use 'exact' or 'lsh'")
      }
    },

    // Cross-corpus LSH decontamination: distinct `(train_id, eval_id)` pairs
    // whose documents share a MinHash band signature
    // (`DedupQueries.decontaminatePairs`).
    tvf("graft_decontaminate(trainTable, evalTable)", 2) { a =>
      DedupQueries.decontaminatePairs(a.table(0), a.table(1))
    },

    // The end-to-end curation pipeline: dedup (exact ∪ LSH) → repetition
    // quality gate → deterministic content-hash split; returns surviving
    // rows with their `split` (`CurationQueries.curatedCorpusOf`).
    tvf("graft_curate(docsTable)", 1) { a =>
      CurationQueries.curatedCorpusOf(a.table(0))
    },

    // The flagship 30-min-gap session rollup over any `(user_id, ts_us, …)`
    // view: `ts_t` is derived from the µs event time, then the exact batch
    // operator runs (`Sessionize.visits` — Beam-exclusive gap boundary,
    // visit_key derivation and all).
    tvf("graft_sessionize(eventsTable, gapSeconds)", 2) { a =>
      val gapUs = a.int(1, "gapSeconds") * 1000000L
      Sessionize.visits(
        a.table(0).withColumn("ts_t", timestamp_micros(col("ts_us"))),
        gapUs = gapUs)
    },

    // Span-level exact dedup over any `(doc_id, text, …)` table: every
    // distinct 20-token span survives once corpus-wide, documents
    // reassembled from surviving spans (`DedupQueries.spanDedup`).
    tvf("graft_span_dedup(docsTable)", 1) { a =>
      DedupQueries.spanDedup(a.table(0))
    },

    // EXACT-substring dedup over any `(doc_id, text, …)` table: duplicated
    // regions ≥ `w` tokens (default 13; Lee et al. used ~50) are stripped at
    // token resolution and at any offset (the ExactSubstr semantics,
    // `DedupQueries.substrDedup`) — the precision upgrade over
    // `graft_span_dedup`'s fixed 20-token chunks. `w` is THE
    // recall/aggressiveness knob: smaller strips more.
    tvf("graft_substr_dedup(docsTable[, w])", 1, optional = 1) { a =>
      val w = if (a.n == 2) a.int(1, "w") else 13
      a.check(w >= 2, s"w must be at least 2, got $w")
      DedupQueries.substrDedup(a.table(0), w)
    },

    // The C4/Gopher hard per-source document cap: at most `cap` rows survive
    // per source, drawn as the salted-md5 rank prefix
    // (`CurationQueries.sourceCapOf`).
    tvf("graft_source_cap(docsTable, cap)", 2) { a =>
      val cap = a.int(1, "cap")
      CurationQueries.sourceCapOf(a.table(0), cap)
    },

    // SemDeDup-style semantic dedup over any `(vec_id, embedding, …)` table:
    // embeddings are quantized, cells trained at `cellCap` (the recall/cost
    // knob — see `DedupQueries.semanticDedup`), and the kept `(vec_id, cell)`
    // rows returned.
    tvf("graft_semantic_dedup(vecsTable, cellCap)", 2) { a =>
      val cap = a.int(1, "cellCap")
      DedupQueries.semanticDedup(a.vecs(0), cap)
    },

    // Embedding-space train/eval contamination pairs over two
    // `(vec_id, embedding, …)` tables (vec_ids disjoint across them — they
    // key the output): cells train on the union at `cellCap`, and the
    // (train_id, eval_id, dot) pairs above τ = 0.3 return
    // (`DedupQueries.semanticDecontamBetween`).
    tvf("graft_semantic_decontam(trainVecs, evalVecs, 256)", 3) { a =>
      val cap = a.int(2, "cellCap")
      DedupQueries.semanticDecontamBetween(a.vecs(0), a.vecs(1), cap)
    },

    // LM-familiarity scores: bigram counts train on the reference table,
    // candidates score against them with unseen → 0
    // (`TextStatsQueries.lmScoreOf`).
    tvf("graft_lm_score(refDocs, candidateDocs)", 2) { a =>
      val (c2, c1) = TextStatsQueries.lmCounts(a.table(0))
      TextStatsQueries.lmScoreOf(a.table(1), c2, c1)
    },

    // BM25 relevance top-K over any `(doc_id, text, …)` table
    // (`TextStatsQueries.bm25Rank` — the integer-exact odds-ratio
    // formulation).
    tvf("graft_bm25(docsTable, 'spark,join', 20)", 3) { a =>
      val terms = a.csv(1)
      a.check(terms.nonEmpty, "term list must not be empty")
      val k = a.int(2, "k")
      TextStatsQueries.bm25Rank(a.table(0), terms, k)
    },

    // Exact data-mixture sampling: the largest subset hitting the target
    // integer-percent group proportions exactly
    // (`CurationQueries.mixtureSample`).
    tvf("graft_mixture_sample(docsTable, 'lang', 'en:40,de:60')", 3) { a =>
      val weights = a.csv(2).map { spec =>
        spec.split(":", -1) match {
          case Array(g, w) if g.nonEmpty && w.forall(_.isDigit) && w.nonEmpty =>
            (g, w.toInt)
          case _ => a.fail(s"bad weight spec '$spec' — use 'group:percent'")
        }
      }
      a.check(weights.map(_._2).sum == 100,
              s"weights must sum to 100, got ${weights.map(_._2).sum}")
      CurationQueries.mixtureSample(a.table(0), a.str(1), weights)
    },

    // Every vector's top-k nearest trained-cell-mates
    // (`SimQueries.knnGraphOf`).
    tvf("graft_knn_graph(vecsTable, 3)", 2) { a =>
      val k = a.int(1, "k")
      SimQueries.knnGraphOf(a.vecs(0), k)
    },

    // Mutual-kNN component labels (`SimQueries.semanticClustersOf`).
    tvf("graft_semantic_clusters(vecsTable, 3)", 2) { a =>
      val k = a.int(1, "k")
      SimQueries.semanticClustersOf(a.vecs(0), k)
    },

    // Cluster-balanced diversity sample (`SimQueries.clusterSampleOf`).
    tvf("graft_cluster_sample(vecsTable, 3, 5)", 3) { a =>
      val (k, budget) = (a.int(1, "k"), a.int(2, "budget"))
      SimQueries.clusterSampleOf(a.vecs(0), k, budget = budget)
    },

    // The HLL register table of the group column's distinct-`text` sketch
    // (`TextStatsQueries.hllRegisters`).
    tvf("graft_hll(docsTable, 'lang')", 2) { a =>
      TextStatsQueries.hllRegisters(a.table(0), a.str(1))
    },

    // The count–min counter table of the token stream
    // (`TextStatsQueries.cmsSketch`).
    tvf("graft_cms(docsTable)", 1) { a =>
      TextStatsQueries.cmsSketch(a.table(0))
    },

    // Per-term df/tf + capped posting prefix
    // (`TextStatsQueries.invertedIndex`).
    tvf("graft_inverted_index(docsTable)", 1) { a =>
      TextStatsQueries.invertedIndex(a.table(0))
    },

    // SCD-1 snapshot MERGE (`DedupQueries.mergeUpsert`; the changes table
    // needs `(doc_id, op, text)` with op ∈ upsert|delete).
    tvf("graft_merge(snapshotTable, changesTable)", 2) { a =>
      DedupQueries.mergeUpsert(a.table(0), a.table(1))
    },

    // Corpus snapshot diff (`DedupQueries.corpusDiff`).
    tvf("graft_diff(oldTable, newTable)", 2) { a =>
      DedupQueries.corpusDiff(a.table(0), a.table(1))
    },

    // Overlapping sliding-window chunks (`CurationQueries.chunkOverlap`).
    tvf("graft_chunk(docsTable)", 1) { a =>
      CurationQueries.chunkOverlap(a.table(0))
    },

    // Per-document top-k keywords (`TextStatsQueries.tfidfTerms`).
    tvf("graft_tfidf(docsTable, 3)", 2) { a =>
      val k = a.int(1, "k")
      TextStatsQueries.tfidfTerms(a.table(0), k)
    },

    // DSIR importance scores for every raw document against a target
    // corpus's hashed-n-gram distribution (`CurationQueries.dsirScoredOf`).
    tvf("graft_dsir_score(rawDocs, targetDocs)", 2) { a =>
      CurationQueries.dsirScoredOf(a.table(0), a.table(1))
    },

    // Within-document repeated-span strip (`DedupQueries.intraDocDedup`);
    // zero-shuffle pure projection.
    tvf("graft_intradoc_dedup(docsTable)", 1) { a =>
      DedupQueries.intraDocDedup(a.table(0))
    },

    // The dedup composition keeping the FULLEST member of each duplicate
    // cluster (`DedupQueries.canonicalCorpusOf`).
    tvf("graft_canonical_dedup(docsTable)", 1) { a =>
      DedupQueries.canonicalCorpusOf(a.table(0))
    },

    // α = 1/2 exponential-smoothing mixture
    // (`CurationQueries.temperatureMixture`).
    tvf("graft_temperature_mixture(docsTable, 'lang')", 2) { a =>
      CurationQueries.temperatureMixture(a.table(0), a.str(1))
    },

    // The one-call pretraining-corpus composition: canonical dedup →
    // repetition gate → temperature mixture
    // (`CurationQueries.pretrainCorpusOf`).
    tvf("graft_pretrain(docsTable)", 1) { a =>
      CurationQueries.pretrainCorpusOf(a.table(0))
    },

    // jusText-lite boilerplate extraction over a named HTML column
    // (`WebQueries.htmlExtractOf`).
    tvf("graft_html_extract(table, 'htmlCol')", 2) { a =>
      WebQueries.htmlExtractOf(a.table(0), a.str(1))
    },

    // Mojibake repair + NFC over `text` (`WebQueries.normalizeTextOf`).
    tvf("graft_normalize(docsTable)", 1) { a =>
      WebQueries.normalizeTextOf(a.table(0))
    },

    // Blocklist membership with reason codes (`WebQueries.safetyFrame`).
    tvf("graft_safety(docsTable)", 1) { a =>
      WebQueries.safetyFrame(a.table(0))
    },

    // Canonical URL + host key columns appended
    // (`WebQueries.urlCanonicalOf`).
    tvf("graft_url_canonical(table, 'urlCol')", 2) { a =>
      WebQueries.urlCanonicalOf(a.table(0), a.str(1))
    },

    // WARC container ingestion: one row per response record with header
    // fields, truncation quarantine flag, and the boilerplate-extracted
    // payload (`WebQueries.warcExtractOf`).
    tvf("graft_warc_extract(table, 'warcCol')", 2) { a =>
      WebQueries.warcExtractOf(a.table(0), a.str(1))
    },

    // Group-aware train/val/test split: every document keyed to its dedup
    // component's CANONICAL member, so a near-dup pair never straddles a
    // train/eval boundary (`CurationQueries.splitClusterOf`).
    tvf("graft_split_cluster(docsTable)", 1) { a =>
      CurationQueries.splitClusterOf(a.table(0))
    },

    // Repeated-line boilerplate stripping over any multi-line
    // `(doc_id, text, …)` table: lines whose hash appears in ≥ minDocs
    // documents are dropped from every document
    // (`WebQueries.boilerplateLinesOf`).
    tvf("graft_boilerplate(docsTable, minDocs)", 2) { a =>
      val minDocs = a.int(1, "minDocs")
      WebQueries.boilerplateLinesOf(a.table(0), minDocs)
    },

    // Deterministic weight-based epoch upsampling over any
    // `(doc_id, lang, …)` table: one row per materialized copy with its index
    // and permutation key (`CurationQueries.upsampleFrame`, library-default
    // mixture — the `graft_curate` config convention).
    tvf("graft_upsample(docsTable)", 1) { a =>
      CurationQueries.upsampleFrame(a.table(0))
    },

    // Secret/credential class counts, redacted text, and a `secret_free`
    // flag appended (`StreamingCuration.withSecretScrub` — the shared
    // batch/stream expression body).
    tvf("graft_secret_scrub(docsTable)", 1) { a =>
      StreamingCuration.withSecretScrub(a.table(0))
    },

    // Per-eval-document exact-13-gram contamination score in basis points
    // (`DedupQueries.contaminationScoreOf`).
    tvf("graft_contamination(trainTable, evalTable)", 2) { a =>
      DedupQueries.contaminationScoreOf(a.table(0), a.table(1))
    },

    // Span-level language-mixture detection over any
    // `(doc_id, text, lang, …)` table: per document, chunk-vote counts,
    // distinct predicted languages, the majority language, and the `mixed`
    // flag (`TextStatsQueries.langMixtureOf` — profiles trained on that
    // table's own labels).
    tvf("graft_lang_mixture(docsTable)", 1) { a =>
      TextStatsQueries.langMixtureOf(a.table(0))
    },

    // The composed crawl front door as one reason-coded admission decision
    // per page (`WebQueries.crawlAdmitFrame`).
    tvf("graft_crawl_admit(docsTable)", 1) { a =>
      WebQueries.crawlAdmitFrame(a.table(0))
    },

    // The crawl admission funnel: each record charged to its FIRST failing
    // stage in pipeline order (truncated → empty_extract → empty_norm →
    // safety → robots → license → admitted), counted per stage
    // (`WebQueries.admitFunnelOf`).
    tvf("graft_admit_funnel(docsTable)", 1) { a =>
      WebQueries.admitFunnelOf(a.table(0))
    },

    // Per-shard counts, position ranges, and order-invariant content
    // checksums of the deterministic export
    // (`CurationQueries.exportManifestOf`).
    tvf("graft_export_manifest(docsTable)", 1) { a =>
      CurationQueries.exportManifestOf(a.table(0))
    },

    // Per-language raw vs trained-on token mass under the upsampling mixture
    // (`CurationQueries.tokenBudgetOf`).
    tvf("graft_token_budget(docsTable)", 1) { a =>
      CurationQueries.tokenBudgetOf(a.table(0))
    },

    // The mergeable rank-error-bounded quantile sketch queried in-plan
    // (`TextStatsQueries.kllQuantiles`): one (p, est, level, sample_n) row
    // per target percentile.
    tvf("graft_kll_quantiles(table, 'idCol', 'valCol')", 3) { a =>
      TextStatsQueries.kllQuantiles(
        a.table(0).select(col(a.str(1)).as("doc_id"), col(a.str(2)).as("v")))
    },

    // GPT-2-class byte-level BPE: merges learned on the table's text, every
    // document encoded (`TextStatsQueries.byteBpeEncodedOf`). Like
    // `graft_boilerplate`, the learn pass runs at resolution (bounded
    // merge-table collect).
    tvf("graft_byte_bpe(docsTable)", 1) { a =>
      val d = a.table(0).filter(col("text").isNotNull)
      TextStatsQueries.byteBpeEncodedOf(d, TextStatsQueries.byteBpeLearnMerges(d))
    },

    // The JSONL.gz parse chain (strict gunzip → newline framing →
    // `from_json` → drop-malformed) over any table's binary container
    // column (`IngestQueries.jsonlFilesParse`).
    tvf("graft_jsonl_parse(table, 'binCol')", 2) { a =>
      IngestQueries.jsonlFilesParse(a.table(0).select(col(a.str(1)).as("content")))
    },

    // The versioned-history MERGE: every changed key's prior row closes at
    // `epoch`, upserts open a new version, untouched rows stay open
    // (`DedupQueries.scd2Merge`).
    tvf("graft_scd2_merge(snapshotTable, changesTable, epoch)", 3) { a =>
      DedupQueries.scd2Merge(a.table(0), a.table(1), a.long(2))
    },

    // RFC 9309 robots.txt judgment: parse the named robots DOCUMENT column,
    // judge the named path for the agent, append `n_rules`/`n_match`/`allowed`
    // (`WebQueries.robotsCheckOf`).
    tvf("graft_robots_check(table, 'robotsCol', 'agent', 'pathCol')", 4) { a =>
      WebQueries.robotsCheckOf(a.table(0), a.str(1), a.str(2), a.str(3))
    }
  )

  /** Register every table function on an already-built session (tests,
    * notebooks) — the registry twin of the `GraftFunctions` pattern. */
  def registerAll(s: SparkSession): Unit =
    all.foreach { case (id, inf, builder) =>
      s.sessionState.tableFunctionRegistry.registerFunction(id, inf, builder)
    }
}
