package graft.queries


import graft.SparkSpec

/** Intra-document span dedup must strip WITHIN-doc repeats only: a
  * span repeated inside one document dies, the same span shared across
  * documents survives in every document — the exact divergence from
  * corpus-wide q_span_dedup. */
class IntradocDedupSpec extends SparkSpec {
  import spark.implicits._

  private def span(tag: String): String =
    (1 to 20).map(i => s"$tag$i").mkString(" ")

  private val a = span("a")
  private val b = span("b")

  private lazy val dir: String = {
    val d = tempDir("graft-intradoc").toString
    Seq(
      // A B A: the second A is a within-doc repeat
      (0L, s"$a $b $a", "en", "web", 10L),
      // A alone in another doc: cross-doc sharing is NOT intra-doc's business
      (1L, a, "en", "web", 10L),
      // short doc (single partial span), survives untouched
      (2L, "tiny doc", "en", "web", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("within-doc repeats die; cross-doc copies survive everywhere") {
    val out = DedupQueries.qIntradocDedup.fn(spark, dir)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) === ((s"$a $b", 2L, 3L)), "doc 0 must shed its second A span")
    assert(out(1L) === ((a, 1L, 1L)), "doc 1 keeps its copy of A")
    assert(out(2L) === (("tiny doc", 1L, 1L)))
    // the corpus-wide pass, by contrast, removes doc 1's A entirely
    val corpusWide = DedupQueries.qSpanDedup.fn(spark, dir)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(corpusWide(1L) === "", "q_span_dedup strips the cross-doc copy")
  }
}
