package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Priority sampling must draw exactly k rows (the top-k by p with the
  * doc_id tiebreak), carry tau = the (k+1)-th priority into the
  * Horvitz-Thompson est_w = max(w, tau), degenerate exactly when the
  * population fits in k, and be deterministic across runs. */
class PrioritySampleSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(n: Int): String = {
    val d = tempDir("graft-prio").toString
    (0 until n).map { i =>
      (i.toLong, s"doc body number $i with words", "en", "web",
       (10 + 7 * (i % 13)).toLong) // varied positive weights
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("k rows, correct tau, HT weights, determinism (n > k)") {
    val dir = writeDocs(80)
    val out = CurationQueries.qPrioritySample.fn(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.length === 50)
    // independent replay of priorities for every doc
    val pri = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"),
              (pmod(graft.text.TextOps.md5Prefix32(
                      md5(concat(lit("prio:"), col("text")))),
                    lit(1000000L)) + 1L).as("u"))
      .withColumn("p", expr("(w * 1000000) div u"))
      .select("doc_id", "w", "p").as[(Long, Long, Long)].collect()
    val ranked = pri.sortBy(r => (-r._3, r._1))
    val tau = ranked(50)._3 // (k+1)-th priority
    val expectIds = ranked.take(50).map(_._1).toSet
    assert(out.map(_._1).toSet === expectIds, "sample must be the top-k")
    out.foreach { case (id, _, w, p, estW) =>
      assert(estW === math.max(w, tau), s"doc $id HT weight wrong")
      assert(p === ranked.find(_._1 == id).get._3)
    }
    val again = CurationQueries.qPrioritySample.fn(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq,
           "the draw must be deterministic")
  }

  test("population <= k: whole corpus sampled, est_w degenerates to w") {
    val dir = writeDocs(20)
    val out = CurationQueries.qPrioritySample.fn(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out.length === 20)
    out.foreach { case (id, _, w, _, estW) =>
      assert(estW === w, s"doc $id: tau must be 0 when n <= k")
    }
  }
}
