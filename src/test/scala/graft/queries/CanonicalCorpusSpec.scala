package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The quality-aware canonical pick must keep the LONGEST member of a
  * duplicate component — diverging from the min-id survivor exactly
  * when the fuller copy carries the larger id — with min-id only as the
  * tiebreak, and singletons passing through as their own components. */
class CanonicalCorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-canon").toString
    Seq(
      // exact-dup component (case variants normalize equal): the FULL
      // copy (500 chars) has the larger id — the production case
      (0L, "alpha beta gamma", "en", "web", 10L),
      (1L, "ALPHA BETA GAMMA", "en", "web", 500L),
      // singleton
      (2L, "wholly unrelated content here", "en", "web", 50L),
      // tie on n_chars -> min doc_id wins
      (3L, "xx yy zz", "en", "web", 7L),
      (4L, "XX YY ZZ", "en", "web", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("argmax-quality survivor, min-id tiebreak, singleton passthrough") {
    val canon = DedupQueries.qCanonicalCorpus.fn(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(canon === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("diverges from first-occurrence keeping on exactly the fuller-copy case") {
    val firstOcc = DedupQueries.qDedupedCorpus.fn(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(firstOcc === Set(0L, 2L, 3L),
           "min-id keeping must keep the truncated doc 0")
    val canon = DedupQueries.qCanonicalCorpus.fn(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(canon === Set(1L, 2L, 3L),
           "quality keeping must keep the full doc 1 instead")
  }
}
