package graft.queries

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.sources.Tables
import graft.text.TextOps

/** Dev profiling harness (test scope, not shipped): times the
  * Bloom-probed incremental dedup stage by stage so overhead is
  * attributed before it is "optimized". Run:
  *   sbt "Test/runMain graft.queries.BloomProfile /root/testdata/sf0.1"
  */
object BloomProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = Sessions.local("spark.app.name" -> "bloom-profile")
    s.sparkContext.setLogLevel("ERROR")

    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $name%-30s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    t("warmup incremental")(DedupQueries.qDedupIncremental.fn(s, dir).count())
    t("warm incremental")(DedupQueries.qDedupIncremental.fn(s, dir).count())

    val d = Tables.read(s, dir, "documents")
    val corpus = d.filter(col("doc_id") % 5 < 4)
    val batch = d.filter(col("doc_id") % 5 === 4)
    val hashes = t("hash index build+pin")(
      graft.queries.checkpointCompact(
        corpus.select(TextOps.contentHash(col("text")).as("ch")).distinct()))
    val n = t("count")(hashes.count())
    // bloomOf, NOT a hand-built stat.bloomFilter("ch"): the sketch must
    // be xxhash64-long-keyed to match bloomProbe's native
    // BloomFilterMightContain — a string-keyed sketch silently answers
    // "absent" for every present key (the DedupQueries.bloomProbe
    // scaladoc hazard), which would profile a wrong-result pipeline
    val bloom = t("bloom agg")(DedupQueries.bloomOf(hashes, n, 0.03))
    val bands = t("band index")(
      DedupQueries.bandSignaturesOf(corpus)
        .select("band", "sig0", "sig1").distinct())
    t("probe (bloom path)")(
      DedupQueries.dedupAgainstIndexBloom(batch, hashes, bands, bloom).count())
    t("full qDedupBloom warm")(DedupQueries.qDedupBloom.fn(s, dir).count())
    t("full qDedupBloom warm x2")(DedupQueries.qDedupBloom.fn(s, dir).count())
    t("warm incremental again")(DedupQueries.qDedupIncremental.fn(s, dir).count())
    s.stop()
  }
}
