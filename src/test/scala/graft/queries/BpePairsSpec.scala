package graft.queries

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** BPE first-merge pair counts: character-pair semantics, occurrence
  * weighting, single-char exclusion, and the ties-inclusive band. */
class BpePairsSpec extends SparkSpec {
  import spark.implicits._

  private def countsOf(texts: Seq[String]): Map[String, Long] = {
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // reuse the query body via a throwaway parquet-free path: the Q fn
    // reads testdata, so re-derive with the same expressions here —
    // instead, exercise the full operator through a temp dir
    val dir = tempDir("bpe").toString
    d.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextStatsQueries.qBpePairs.fn(spark, dir)
      .select(col("pair"), col("cnt")).as[(String, Long)].collect().toMap
  }

  test("pair extraction: adjacent char pairs per token occurrence") {
    // "abc" -> ab, bc; three "ab" tokens -> ab x3; "x" contributes none
    val c = countsOf(Seq("abc ab ab", "ab x"))
    assert(c("ab") === 4L) // abc's ab + three standalone ab tokens
    assert(c("bc") === 1L)
    assert(!c.contains("x"))
  }

  test("ties-inclusive band: equal counts never split at the cut") {
    // 40 distinct 2-char tokens -> 40 distinct pairs, all count 1
    // (more than the K=30 cut): the band must emit every one
    val twoChar = (0 until 40).map(i => s"${('a' + i % 26).toChar}${('a' + i / 26).toChar}")
    val c = countsOf(Seq(twoChar.distinct.mkString(" ")))
    assert(c.size === twoChar.distinct.size)
    assert(c.values.forall(_ == 1L))
  }
}
