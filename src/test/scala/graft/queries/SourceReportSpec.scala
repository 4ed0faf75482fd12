package graft.queries

import graft.SparkSpec

/** Source-report accounting: duplicates counted on normalized content,
  * null text accounted separately and excluded from the surplus. */
class SourceReportSpec extends SparkSpec {
  import spark.implicits._

  test("per-source duplication accounting is exact, null text never inflates it") {
    val dir = tempDir("graft-srcrep").toString
    Seq(
      (1L, "x y", "en", "A", 3L),
      (2L, "  X  y ", "en", "A", 7L),   // normalized dup of doc 1
      (3L, null.asInstanceOf[String], "en", "A", 0L),
      (4L, "unique", "en", "B", 6L),
      (5L, "autre", "fr", "B", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CurationQueries.qSourceReport.fn(spark, dir)
      .select("source", "lang", "n_docs", "sum_chars", "n_null_text",
              "n_distinct", "n_dup_docs")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got(("A", "en")) === ((3L, 10L, 1L, 1L, 1L)))
    assert(got(("B", "en")) === ((1L, 6L, 0L, 1L, 0L)))
    assert(got(("B", "fr")) === ((1L, 5L, 0L, 1L, 0L)))
  }
}
