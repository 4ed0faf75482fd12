package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.AtomicPublish

/** Streaming exactly-once compaction (round-17 VERDICT #7): a drained
  * micro-batch sink folds into the committed index layout as ONE
  * manifest commit ([[LayoutQueries.compactStreamSink]]). The spec
  * simulates the crash the protocol exists for — a compactor that
  * dies BETWEEN the bucket-file append and the manifest commit — and
  * proves committed readers never observe the torn batch, then that
  * completing the commit publishes exactly the merged state while a
  * version-pinned reader keeps its snapshot. */
class StreamCompactionSpec extends SparkSpec {

  import spark.implicits._

  private def partials(rows: (Long, String, Long)*) =
    rows.toDF("doc_id", "term", "tf")

  private def merged(layout: String): Map[String, (Long, Long, String)] =
    LayoutQueries.compactIndex(spark, layout).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("a torn stream compaction is INVISIBLE; completing the commit publishes it whole") {
    val layout = tempDir("graft-stream-compact").toString

    // micro-batch 1 compacts and COMMITS → version 1
    LayoutQueries.compactStreamSink(
      partials((1L, "alpha", 2L), (2L, "alpha", 1L), (1L, "beta", 3L)),
      layout)
    val (v1, _) = AtomicPublish.committedVersion(spark, layout)
    val c1 = merged(layout)
    assert(c1 === Map("alpha" -> ((2L, 3L, "1,2")), "beta" -> ((1L, 3L, "1"))))

    // micro-batch 2 appends its bucket files but DIES before the
    // manifest commit (the commitAfter=false crash seam)
    LayoutQueries.compactStreamSink(
      partials((3L, "alpha", 5L), (3L, "gamma", 1L)),
      layout, commitAfter = false)

    // committed readers see EXACTLY version 1 — not one row, not one
    // posting of the torn batch
    assert(AtomicPublish.committedVersion(spark, layout)._1 === v1)
    assert(merged(layout) === c1)
    // and the tear is REAL: the directory holds more data files than
    // the committed manifest serves
    val dirFiles = new java.io.File(s"$layout/terms").listFiles()
      .filter(_.isDirectory)
      .flatMap(_.listFiles()).count(f => f.getName.endsWith(".parquet"))
    val servedFiles = AtomicPublish.readCommitted(spark, layout, "terms")
      .inputFiles.length
    assert(dirFiles > servedFiles,
           s"expected torn files beyond the manifest ($dirFiles vs $servedFiles)")

    // the recovered compactor completes the commit → version 2 serves
    // the exact merged state
    val v2 = AtomicPublish.commit(spark, layout)
    assert(v2 === v1 + 1)
    assert(merged(layout) === Map(
      "alpha" -> ((3L, 8L, "1,2,3")),
      "beta" -> ((1L, 3L, "1")),
      "gamma" -> ((1L, 1L, "3"))))

    // snapshot isolation: a reader pinned to version 1 still resolves
    // version 1's exact file set after the later commit
    val pinned = AtomicPublish.readCommittedAt(spark, layout, "terms", v1)
      .groupBy("term").agg(sum("df").as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pinned === Map("alpha" -> 2L, "beta" -> 1L))
  }

  test("posting-prefix merge stays capped and exact through compaction") {
    val layout = tempDir("graft-stream-compact2").toString
    val cap = TextStatsQueries.PostingsCap
    // two batches whose doc ids interleave: the merged prefix must be
    // the smallest `cap` of the UNION (the containment argument)
    LayoutQueries.compactStreamSink(
      partials((1L to 40L by 2).map(i => (i, "t", 1L)): _*), layout)
    LayoutQueries.compactStreamSink(
      partials((2L to 40L by 2).map(i => (i, "t", 1L)): _*), layout)
    val m = merged(layout)("t")
    assert(m._1 === 40L && m._2 === 40L)
    assert(m._3 === (1L to cap.toLong).mkString(","))
  }
}
