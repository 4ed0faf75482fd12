package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Heavy-hitter n-grams: ties-inclusive top-K-by-count semantics on a
  * planted distribution, via the gated query run against a scratch
  * documents dir (the query reads `documents.parquet` from its dir
  * argument, so the fixture is a real table, not a mock). */
class NgramTopkSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val dir = tempDir("graft-ngram-topk").toString
    // "a b" x4 (two docs), "b c" x2, then singleton grams; with K≥2 the
    // planted counts force a tie band at cnt=2
    Seq(
      (1L, "a b a b a b"),          // "a b" x3, "b a" x2
      (2L, "a b"),                  // "a b" x1
      (3L, "b c x b c"),            // "b c" x2, plus singletons
      (4L, "lone words here"),      // singletons only
      (5L, null.asInstanceOf[String]),
      (6L, "single")                // 1 token: no bigrams
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def counts: Map[String, Long] =
    TextStatsQueries.qNgramTopk.fn(spark, fixtureDir)
      .as[(String, Long)].collect().toMap

  test("counts are corpus-wide totals and the cut keeps every gram at the kth count") {
    val got = counts
    assert(got("a b") === 4L, "occurrences sum across documents")
    assert(got("b a") === 2L && got("b c") === 2L,
      "ties at the threshold are BOTH kept (ties-inclusive cut)")
    // K=40 > distinct grams here, so the kth count is the min count (1)
    // and every gram appears — including each singleton
    assert(got.values.min === 1L)
  }

  test("ties-inclusive semantics: equal counts never split at the cut") {
    val got = counts
    val byCount = got.groupBy(_._2).map { case (c, m) => c -> m.size }
    // for every emitted count value, ALL grams with that count are present:
    // recompute the full distribution independently and compare bucket sizes
    val full = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .select(explode(graft.text.TextOps.shingles(
        graft.text.TextOps.tokens(col("text")), 2)).as("g"))
      .groupBy("g").count().as[(String, Long)].collect()
    val fullByCount = full.groupBy(_._2).map { case (c, m) => c -> m.size }
    byCount.foreach { case (c, size) =>
      assert(fullByCount(c) === size,
        s"count bucket $c must be kept whole (got $size of ${fullByCount(c)})")
    }
  }
}
