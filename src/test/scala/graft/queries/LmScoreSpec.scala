package graft.queries

import graft.SparkSpec

/** LM-familiarity contract: exact integral-division bigram scores,
  * hand-computed; sub-bigram and null docs are absent, not zero. */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("familiarity is the exact mean of floored bigram conditionals") {
    val dir = tempDir("graft-lm").toString
    Seq(
      (1L, "a b a b"),  // bigrams (a,b) (b,a) (a,b)
      (2L, "a b"),
      (3L, "c d"),
      (4L, "a c"),
      (5L, "solo"),     // < 2 tokens: no bigrams, no row
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpus counts: cnt(a,·)=4, cnt(a,b)=3, cnt(a,c)=1, cnt(b,·)=1,
    // cnt(b,a)=1, cnt(c,·)=1, cnt(c,d)=1
    // p(a,b)=⌊3e6/4⌋=750000  p(b,a)=1000000  p(a,c)=250000  p(c,d)=1000000
    val got = TextStatsQueries.qLmScore.fn(spark, dir)
      .select("doc_id", "n_bigrams", "familiarity")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> ((3L, (750000L + 1000000L + 750000L) / 3)), // 833333: div floors
      2L -> ((1L, 750000L)),
      3L -> ((1L, 1000000L)),
      4L -> ((1L, 250000L))))
  }

  test("reference-vs-candidate: novel text scores 0, in-distribution text scores high") {
    // the PRIMARY deployment shape: LM trained on a reference corpus,
    // candidates scored against it with unseen -> 0
    val reference = (1L to 10L).map(i => (i, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val candidates = Seq(
      (100L, "the quick brown fox"),   // fully in-distribution
      (101L, "zxq wvu tsr qpo nml"),   // wholly novel -> 0
      (102L, "the quick zz fox")       // mixed: (the,quick)=1e6, (quick,zz)=0, (zz,fox)=0
    ).toDF("doc_id", "text")
    val (c2, c1) = TextStatsQueries.lmCounts(reference)
    val got = TextStatsQueries.lmScoreOf(candidates, c2, c1)
      .select("doc_id", "n_bigrams", "familiarity")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(100L) === ((3L, 1000000L)))
    assert(got(101L) === ((4L, 0L)), "novel text must not self-support")
    assert(got(102L) === ((3L, 1000000L / 3)))
  }

  test("smoothing kills the one-novel-bigram cliff but preserves the familiarity ordering") {
    val reference = (1L to 10L).map(i => (i, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val candidates = Seq(
      (100L, "the quick brown fox"),   // fully in-distribution
      (101L, "zxq wvu tsr qpo nml"),   // wholly novel
      (102L, "the quick brown fox zz") // familiar with ONE novel continuation
    ).toDF("doc_id", "text")
    val (c2, c1) = TextStatsQueries.lmCounts(reference)
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("doc_id", "familiarity").as[(Long, Long)].collect().toMap
    val raw = scores(TextStatsQueries.lmScoreOf(candidates, c2, c1))
    val sm = scores(TextStatsQueries.lmScoreSmoothedOf(
      candidates, c2, c1, TextStatsQueries.lmVocab(reference)))
    // ordering law: familiar > mixed > novel under BOTH conventions
    assert(raw(100L) > raw(102L) && raw(102L) > raw(101L))
    assert(sm(100L) > sm(102L) && sm(102L) > sm(101L))
    // the cliff: un-smoothed, one novel bigram among 4 costs a full
    // quarter of the mean (a hard 0 term); smoothed, the novel term
    // contributes a small positive mass instead, so the mixed doc
    // retains MORE than 3/4 of the fully-familiar score
    assert(raw(102L) === raw(100L) * 3 / 4)
    assert(sm(102L) > sm(100L) * 3 / 4)
    // and smoothing never manufactures familiarity: wholly-novel stays
    // near zero (V=4 continuations, K=10 → each unseen bigram scores
    // 10⁶/4 = 250 000 only if n1=0... the exact value: 10⁶·1/(0+4))
    assert(sm(101L) === 1000000L / 4)
    assert(raw(101L) === 0L)
  }

  test("self-scoring (the gate's replayable case) equals left-join scoring on itself") {
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val (c2, c1) = TextStatsQueries.lmCounts(d)
    val self = TextStatsQueries.lmScoreOf(d, c2, c1)
      .as[(Long, Long, Long)].collect().toSet
    assert(self.nonEmpty && self.forall(_._3 > 0),
      "every self-scored bigram is in its own training set")
  }
}
