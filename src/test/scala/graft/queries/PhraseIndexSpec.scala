package graft.queries


import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The positional index must answer phrase queries FROM THE ARTIFACT:
  * exact adjacency counts, each term's postings read from one pruned
  * bucket with the `term =` filter pushed, zero shuffles below the
  * doc_id join's exchanges of the two (tiny) posting frames. */
class PhraseIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-phrase-index").toString
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"), // phrase at 0 and 3
      (2L, "beta alpha"),                  // both terms, never adjacent
      (3L, "alpha beta"),                  // phrase at 0
      (4L, "zeta zeta"),                   // neither term
      (5L, "alpha alpha beta")             // phrase at 1 only
    ).map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("phrase adjacency counts are exact; never-adjacent docs excluded") {
    // the gate derives its phrase from the lowest doc_id: "alpha beta"
    val got = LayoutQueries.qIndexPhrase.fn(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 3L -> 1L, 5L -> 1L))
  }

  test("each term side reads ONE pruned bucket with the term filter pushed") {
    val out = tempDir("graft-phrase-out").toString
    LayoutQueries.writePhraseIndex(spark, dir, out)
    val t = "alpha"
    val probe = spark.read.parquet(s"$out/pos")
      .filter(col("tbucket") === pmod(xxhash64(lit(t)), lit(64L)) &&
                col("term") === t)
      .select("doc_id", "positions")
    val rows = probe.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows === Map(1L -> Seq(0, 3), 2L -> Seq(1),
                        3L -> Seq(0), 5L -> Seq(0, 1)))
    val plan = probe.queryExecution.executedPlan
    val scans = graft.PlanAudit.flatten(plan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 1,
           s"expected 1 pruned bucket, got ${scans.head.selectedPartitions.partitionCount}")
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(term,alpha)"),
           s"term filter must push to the scan: ${scans.head.metadata("PushedFilters")}")
    assert(graft.PlanAudit.flatten(plan).collect { case x: Exchange => x }.isEmpty,
           "the single-term posting read must not shuffle")
  }
}
