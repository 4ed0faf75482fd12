package graft.queries


import graft.SparkSpec

/** Temperature rebalancing must keep the rare group in FULL (it binds
  * the feasible total) while trimming the head group to the sqrt-share
  * — the closed-form check on a 100/4 split: w = (10, 2), W = 12,
  * T = min(100*12/10, 4*12/2) = 24, keeps = (20, 4). */
class TemperatureMixtureSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-tmix").toString
    val en = (0L until 100L).map(i => (i, s"en doc $i", "en", "web", 10L))
    val de = (200L until 204L).map(i => (i, s"de doc $i", "de", "web", 10L))
    (en ++ de).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("closed-form keeps: head trimmed to sqrt share, rare group kept whole") {
    val out = CurationQueries.qTemperatureMixture.fn(spark, dir)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang === Map("en" -> 20, "de" -> 4))
    // raw shares 96%/4% -> sampled shares 83%/17%: the rebalancing direction
    // and the rare group's FULL retention are the operator's contract
    assert(out.count(_._2 == "de") === 4)
  }

  test("deterministic under re-run") {
    val a = CurationQueries.qTemperatureMixture.fn(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = CurationQueries.qTemperatureMixture.fn(spark, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }
}
