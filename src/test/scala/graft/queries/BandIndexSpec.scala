package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stored MinHash band index: probe semantics (corpus near-dups and
  * batch-internal losers die; novel docs survive) and the APPEND
  * cadence — a survivor's signatures join the frozen state, so the
  * NEXT batch's near-dup of it dies without any corpus recompute. */
class BandIndexSpec extends SparkSpec {
  import spark.implicits._

  // ~40 tokens: plenty of shingles, so a one-token edit stays a
  // near-duplicate (shares almost every band) while distinct texts
  // share none
  private def text(seed: String): String =
    (0 until 40).map(i => s"$seed$i").mkString(" ")
  private def nearOf(t: String): String = {
    val toks = t.split(" "); (toks.init :+ "tweaked").mkString(" ")
  }

  test("probe: corpus near-dup dies, novel survives, batch-internal larger id dies") {
    val out = tempDir("graft-band-idx").toString
    val corpus = Seq((1L, text("c"))).toDF("doc_id", "text")
    DedupQueries.writeBandIndex(corpus, out)
    val batch = Seq(
      (10L, nearOf(text("c"))), // near-dup of corpus doc 1 → dies
      (11L, text("n")),         // novel → survives
      (12L, nearOf(text("n")))  // batch-internal near-dup of 11 → dies
    ).toDF("doc_id", "text")
    val got = DedupQueries.dedupAgainstBandIndex(spark, out, batch)
      .as[Long].collect().toSet
    assert(got === Set(11L))
  }

  test("append: a survivor's signatures become frozen state for the next batch") {
    val out = tempDir("graft-band-idx2").toString
    DedupQueries.writeBandIndex(
      Seq((1L, text("c"))).toDF("doc_id", "text"), out)
    val batch1 = Seq((10L, text("n"))).toDF("doc_id", "text")
    val s1 = DedupQueries.dedupAgainstBandIndex(spark, out, batch1)
    assert(s1.as[Long].collect().toSet === Set(10L))
    DedupQueries.appendToBandIndex(spark, out,
      batch1.join(s1, Seq("doc_id"), "left_semi"))
    // batch 2: a near-dup of batch-1's survivor must now die against
    // the APPENDED index — no corpus recompute anywhere
    val batch2 = Seq((20L, nearOf(text("n"))), (21L, text("z")))
      .toDF("doc_id", "text")
    val s2 = DedupQueries.dedupAgainstBandIndex(spark, out, batch2)
    assert(s2.as[Long].collect().toSet === Set(21L))
    // and the layout stayed bucketed: every file sits under a bband dir
    val dirs = new java.io.File(s"$out/bands").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("bband=")))
  }
}
