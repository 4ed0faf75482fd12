package graft.queries


import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stored inverted-index layout must be a pure materialization of
  * [[TextStatsQueries.invertedIndex]] (the probe agrees with the
  * from-scratch build), and the probe must be scan+prune — one bucket
  * directory, pushed `term =` filter, zero shuffles. */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-index-layout").toString
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "alpha epsilon beta beta"),
      (4L, "zeta")
    ).map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("probe through the layout ≡ from-scratch index row; scan is pruned, shuffle-free") {
    val out = tempDir("graft-idx-out").toString
    LayoutQueries.writeIndex(spark, dir, out)
    // probe 'alpha' explicitly (the gate derives its term from data;
    // here the fixture is ours, so pin the interesting multi-doc term)
    val t = "alpha"
    val probe = spark.read.parquet(s"$out/terms")
      .filter(col("tbucket") === pmod(xxhash64(lit(t)), lit(64L)) &&
                col("term") === t)
      .select("term", "df", "total_tf", "postings")
    val got = probe.collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("df") === 2L)        // docs 1 and 3
    assert(r.getAs[Long]("total_tf") === 3L)  // 2 + 1 occurrences
    assert(r.getAs[String]("postings") === "1,3")
    // scan+prune: one bucket directory, zero exchanges, term pushed
    val plan = probe.queryExecution.executedPlan
    val scans = graft.PlanAudit.flatten(plan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 1,
           s"expected 1 pruned bucket, got ${scans.head.selectedPartitions.partitionCount}")
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(term,alpha)"),
           s"term filter must push to the scan: ${scans.head.metadata("PushedFilters")}")
    assert(graft.PlanAudit.flatten(plan).collect { case x: Exchange => x }.isEmpty,
           "the probe must not shuffle")
  }

  test("gate's data-derived probe term is the lowest-doc_id first token") {
    val r = LayoutQueries.qIndexProbe.fn(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[String]("term") === "alpha")
  }
}
