package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Planted-corpus tests for the curation family: exact repetition
  * counts and the Gopher-style gate, and the determinism/leak-safety
  * properties the hash split exists for. */
class CurationQueriesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-curation").toString
    Seq(
      (0L, "spam spam spam spam spam spam", "en", "s", 29L),   // degenerate
      (1L, "the quick brown fox jumps over a lazy dog", "en", "s", 41L),
      (2L, "hello", "en", "s", 5L),                            // no bigrams
      (3L, "  The QUICK brown fox jumps over a lazy dog ", "en", "s", 44L),
      // clean by every other rule (distinct tokens, unique text) but
      // carries two blocklist terms — ONLY the safety gate can drop it
      (4L, "contraband wares of the dup market a to", "en", "s", 39L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q_repetition_filter: exact counts and the repetition gate") {
    val rows = CurationQueries.qRepetitionFilter.fn(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Int)]
      .collect().map(r => r._1 -> r).toMap
    // "spam"×6: one type, bigram "spam spam"×5 — both rules fire
    assert(rows(0L) === ((0L, 6L, 1L, 6L, 5L, 5L, 1)))
    // fully distinct pangram-ish line: 9 tokens, 8 bigrams, all unique
    assert(rows(1L) === ((1L, 9L, 9L, 1L, 8L, 1L, 0)))
    // single token: no bigrams, not flagged (0 > 0 and 4 < 3 both false)
    assert(rows(2L) === ((2L, 1L, 1L, 1L, 0L, 0L, 0)))
  }

  test("q_split_assign: deterministic, partitioning-invariant, dup-safe") {
    val a = CurationQueries.qSplitAssign.fn(spark, dir)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val b = CurationQueries.qSplitAssign.fn(spark, dir)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(a.sameElements(b)) // stable across runs — never rand()-seeded
    assert(a.forall(r => r._2 >= 0 && r._2 <= 9))
    assert(a.forall(r => Set("train", "val", "test").contains(r._3)))
    // docs 1 and 3 are the same text modulo case/whitespace: the split
    // keys on NORMALIZED content, so dups can never straddle train/eval
    val byId = a.map(r => r._1 -> r._2).toMap
    assert(byId(1L) === byId(3L))
  }

  test("q_stratified_sample: reproducible, hash under per-lang keep rate") {
    val a = CurationQueries.qStratifiedSample.fn(spark, dir)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val b = CurationQueries.qStratifiedSample.fn(spark, dir)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b)) // hash-based, never rand()
    assert(a.forall { case (_, lang, h) => h < (if (lang == "en") 50 else 90) })
  }

  test("stratifiedSample: custom rate map is reproducible and respects per-stratum bands") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def run() = CurationQueries
      .stratifiedSample(docs, "lang", Map("en" -> 25, "fr" -> 100),
                        defaultPct = 0, salt = "custom:")
      .select("doc_id", "lang", "h").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    val a = run()
    assert(a.sameElements(run())) // reproducible under a custom rate map
    assert(a.forall { case (_, lang, h) => h < (if (lang == "en") 25 else 100) })
    // out-of-range rates are refused
    intercept[IllegalArgumentException] {
      CurationQueries.stratifiedSample(docs, "lang", Map("en" -> 101), 50)
    }
  }

  test("curatedCorpus: dedup keeps one canonical, quality gate drops the degenerate doc, split present") {
    val got = CurationQueries.curatedCorpus(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // doc 0 is "spam"×6 → repetition-gated out; docs 1 and 3 are exact
    // dups after normalization → only canonical 1 survives; doc 2 stays
    assert(got.keySet === Set(1L, 2L))
    assert(got.values.forall(Set("train", "val", "test").contains))
  }

  test("q_curated_corpus: gate row = library composition, oracle present") {
    val viaQ = CurationQueries.qCuratedCorpus.fn(spark, dir)
      .as[(Long, String)].collect().sortBy(_._1)
    val viaLib = CurationQueries.curatedCorpus(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().sortBy(_._1)
    assert(viaQ.sameElements(viaLib))
    assert(viaQ.map(_._1).sameElements(Array(1L, 2L)))
    assert(CurationQueries.qCuratedCorpus.oracle.nonEmpty)
  }

  test("safety gate slots in the chain: clean-but-unsafe doc dropped, containment holds") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // doc 4 passes dedup (unique) and repetition (all-distinct tokens)…
    val rep = CurationQueries.qRepetitionFilter.fn(spark, dir)
      .filter(col("doc_id") === 4L).select("repetitive").head().getInt(0)
    assert(rep === 0)
    // …and is reason-coded by the safety gate alone
    val v = WebQueries.safetyFrame(docs).filter(col("doc_id") === 4L)
      .select("n_hits", "hit_terms", "blocked").head()
    assert(v.getLong(0) === 2L)
    assert(v.getString(1) === "contraband,dup")
    assert(v.getInt(2) === 1)
    // containment: every curated survivor is safe (blocked ∩ curated = ∅)
    val curated = CurationQueries.curatedCorpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val blocked = WebQueries.safetyFrame(docs)
      .filter(col("blocked") === 1).select("doc_id").as[Long].collect().toSet
    assert(blocked.contains(4L))
    assert(curated.intersect(blocked).isEmpty)
    // same stage, same effect in the pretrain composition
    val pretrain = CurationQueries.pretrainCorpusOf(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(pretrain.intersect(blocked).isEmpty)
  }

  test("q_token_packing: contiguous per-source packs under the budget") {
    // fixture docs all share source "s": packs fill in doc_id order
    val rows = CurationQueries.qTokenPacking.fn(spark, dir)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val budget = 2048L
    var cum = 0L
    rows.foreach { case (_, _, n, pack) =>
      assert(pack === cum / budget) // pack id = tokens-before / budget
      cum += n
    }
    // pack ids are nondecreasing in doc order within the source
    assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  /** Fixture for the group-aware split: docs 10/11 share their cyclic
    * 3-gram shingle SET (every band signature equal ⇒ LSH candidate pair
    * by construction) but differ in normalized content — a near-dup,
    * not an exact dup. Their content buckets are 8 (val) and 6 (train):
    * the plain hash split provably scatters them across the boundary. */
  private lazy val clusterDir: String = {
    val d = tempDir("graft-splitcluster").toString
    Seq(
      (10L, "alpha beta gamma alpha beta gamma", "en", "s", 33L),
      (11L, "alpha beta gamma alpha beta gamma alpha beta gamma", "en", "s", 50L),
      (12L, "the quick brown fox jumps over a lazy dog", "en", "s", 41L),
      // exact dup (case/whitespace) of 12 — an exact edge, not LSH
      (13L, "  The QUICK brown fox jumps over a lazy DOG ", "en", "s", 44L),
      (14L, "completely unrelated singleton text body here", "en", "s", 45L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q_split_cluster: near-dup pair shares one split where the plain split leaks") {
    val plain = CurationQueries.qSplitAssign.fn(spark, clusterDir)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    // the leak the operator exists for: the plain content-hash split
    // puts the near-dup twins on OPPOSITE sides of a train/eval boundary
    assert(plain(10L) === "val" && plain(11L) === "train")
    val rows = CurationQueries.qSplitCluster.fn(spark, clusterDir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    // near-dup pair: one cluster (canonical 10), ONE split — the
    // canonical member's plain split
    assert(rows(10L) === ((10L, "val")) && rows(11L) === ((10L, "val")))
    // exact-dup pair collapses the same way (exact edges are in scope)
    assert(rows(12L)._1 === 12L && rows(13L) === rows(12L))
    // singleton: own cluster, split agrees with the plain assignment
    assert(rows(14L) === ((14L, plain(14L))))
    // determinism — never rand()-seeded
    val again = CurationQueries.qSplitCluster.fn(spark, clusterDir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(again === rows)
  }

  test("q_upsample_epoch: exact integer copy counts, bounded fanout, per-copy keys") {
    val d = tempDir("graft-upsample").toString
    // h = first-32-md5('upsample:'+id) mod 1000, precomputed:
    // 0→214, 1→53, 2→549, 3→294, 4→811, 5→212, 6→629, 7→763
    Seq((0L, "a b", "de"), (2L, "c d", "de"),   // 2500: 3 and 2 copies
        (1L, "e f", "es"), (4L, "g h", "es"),   // 1200: 2 and 1
        (3L, "i j", "zh"), (6L, "k l", "zh"),   // 500: 1 and 0 (dropped)
        (5L, "m n", "en"), (7L, "o p", "fr"))   // 1000: 1; 3000: 3
      .map { case (id, t, l) => (id, t, l, "s", 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = CurationQueries.qUpsampleEpoch.fn(spark, d)
      .as[(Long, String, Long, Long, String)].collect()
    val byDoc = rows.groupBy(_._1)
    val copies = byDoc.map { case (id, rs) => id -> rs.map(_._4).sorted.toSeq }
    assert(copies === Map(0L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 2L),
                          1L -> Seq(1L, 2L), 4L -> Seq(1L),
                          3L -> Seq(1L), 5L -> Seq(1L),
                          7L -> Seq(1L, 2L, 3L))) // 6 drawn down to zero
    // n_copies is constant per doc and equals the copy count
    assert(byDoc.forall { case (_, rs) =>
      rs.map(_._3).distinct.length == 1 && rs.head._3 == rs.length })
    // per-copy permutation keys are distinct — copies scatter in an epoch
    assert(rows.map(_._5).distinct.length === rows.length)
  }

  test("upsample: unlisted and null langs pass through at 1 copy") {
    // round-16 ADVICE: a weight table is a mixture ADJUSTMENT — a lang
    // the table doesn't list (or a null lang) must not be silently
    // deleted; the safe default is pass-through (1000 mills = 1 copy).
    val d = Seq((10L, "xx"), (11L, null: String), (12L, "zz"))
      .toDF("doc_id", "lang")
    val out = CurationQueries.upsampleFrame(d)
      .select("doc_id", "n_copies", "copy")
      .as[(Long, Long, Long)].collect().sorted
    assert(out === Array((10L, 1L, 1L), (11L, 1L, 1L), (12L, 1L, 1L)))
  }
}
