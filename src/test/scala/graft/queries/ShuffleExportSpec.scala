package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deterministic training shuffle: the position assignment must be a
  * permutation, reproducible across runs and partitioning, and shards
  * must be contiguous full blocks of the global order. */
class ShuffleExportSpec extends SparkSpec {
  import spark.implicits._

  private val nDocs = 500

  private lazy val fixtureDir: String = {
    val dir = tempDir("graft-shuffle-export").toString
    (0 until nDocs).map(i => (i.toLong, s"doc number $i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(): Array[(Long, Long, Long)] =
    CurationQueries.qShuffleExport.fn(spark, fixtureDir)
      .as[(Long, Long, Long)].collect()

  test("positions are a permutation of 1..n and shards are full contiguous blocks") {
    val rows = run()
    assert(rows.map(_._3).sorted.toSeq === (1L to nDocs).toSeq,
      "pos must be a permutation of 1..n")
    rows.foreach { case (_, shard, pos) =>
      assert(shard === (pos - 1) / 64, "shard = contiguous 64-doc rank blocks")
    }
    val sizes = rows.groupBy(_._2).map { case (s, g) => s -> g.size }
    val lastShard = (nDocs - 1) / 64
    sizes.foreach { case (s, n) =>
      if (s < lastShard) assert(n === 64, s"inner shard $s must be full")
    }
    assert(sizes(lastShard.toLong) === nDocs - lastShard * 64)
  }

  test("the order is reproducible across runs and partitioning, and is shuffled") {
    val a = run().sortBy(_._1)
    val b = run().sortBy(_._1)
    assert(a.toSeq === b.toSeq, "same seed, same permutation — always")
    // md5-keyed order must not be the identity (a sorted export would
    // defeat the operator's purpose)
    assert(a.map(_._3).toSeq !== (1L to nDocs).toSeq,
      "permutation must differ from doc_id order")
  }

  test("export manifest: contiguity, coverage, and a content change flips exactly its shard") {
    def manifest(dir: String): Map[Long, (Long, Long, Long, Long)] =
      CurationQueries.qExportManifest.fn(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val m = manifest(fixtureDir)
    assert(m.values.map(_._1).sum === nDocs.toLong, "manifest covers every doc")
    m.foreach { case (s, (n, lo, hi, _)) =>
      assert(hi - lo + 1 === n, s"shard $s must be a contiguous block")
    }
    assert(m === manifest(fixtureDir), "re-derived manifest is identical")
    // mutate ONE document's content (same ids ⇒ same permutation): only
    // that doc's shard checksum may change, every other row is identical
    val dir2 = tempDir("graft-manifest2").toString
    (0 until nDocs).map(i =>
        (i.toLong, if (i == 123) "tampered payload" else s"doc number $i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val m2 = manifest(dir2)
    val changedShard = CurationQueries.qShuffleExport.fn(spark, fixtureDir)
      .filter(col("doc_id") === 123L).select("shard").as[Long].head()
    assert(m2(changedShard)._4 !== m(changedShard)._4,
      "the tampered doc's shard xor must flip")
    assert((m - changedShard) === (m2 - changedShard),
      "every other shard row is byte-identical")
  }
}
