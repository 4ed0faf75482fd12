package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the [[DedupQueries.qSubstrSa]] contract: the offline-index pass
  * at SaMinLen strips duplicated regions the W = SubstrW rolling pass
  * PROVABLY keeps (a region of SaMinLen..SubstrW-1 tokens admits no
  * W-token window, so the W-gram set over it is empty — the documented
  * threshold hole), the index path equals the from-scratch rolling pass
  * at the same width, and the stored layout is the sorted compact-triple
  * artifact the scaladoc claims. */
class SubstrSaSpec extends SparkSpec {
  import spark.implicits._

  // ten-token block (SaMinLen=8 ≤ 10 < SubstrW=13), duplicated across
  // docs at DIFFERENT, non-aligned offsets; every other token unique
  private val block = (1 to 10).map(i => s"dup$i").mkString(" ")
  private def filler(tag: String, n: Int) =
    (1 to n).map(i => s"u$tag$i").mkString(" ")
  private val docs = Seq(
    (1L, s"${filler("a", 3)} $block ${filler("b", 9)}"),
    (2L, s"${filler("c", 7)} $block ${filler("d", 3)}"),
    (3L, filler("e", 15))
  )

  private def frame = docs.toDF("doc_id", "text")

  test("rolling W=13 pass keeps the 10-token duplicate; SA width strips it") {
    val viaW = DedupQueries.substrDedup(frame)
      .select("doc_id", "kept_tokens").as[(Long, Long)].collect().toMap
    // no 13-token window fits inside the duplicated 10-token region,
    // and every surrounding token is unique — nothing strips
    assert(viaW(1L) === 22 && viaW(2L) === 20,
           s"W-pass unexpectedly stripped: $viaW")
    val viaSa = DedupQueries.substrDedup(frame, DedupQueries.SaMinLen)
      .select("doc_id", "kept_tokens").as[(Long, Long)].collect().toMap
    // doc 1 owns the block (first occurrence by doc_id); doc 2's copy
    // dies whole: 10-token region fully covered by its 3 dup windows
    assert(viaSa(1L) === 22, s"owner lost tokens: $viaSa")
    assert(viaSa(2L) === 10, s"copy not fully stripped: $viaSa")
    assert(viaSa(3L) === 15)
  }

  test("index path ≡ from-scratch rolling pass at SaMinLen") {
    val dir = tempDir("graft-sa").toString
    DedupQueries.writeSubstrIndex(frame, dir)
    val viaIdx = DedupQueries.substrReassemble(
        frame, DedupQueries.saDuplicatesFromIndex(spark, dir),
        DedupQueries.SaMinLen)
      .select("doc_id", "clean_text", "kept_tokens", "total_tokens")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val direct = DedupQueries.substrDedup(frame, DedupQueries.SaMinLen)
      .select("doc_id", "clean_text", "kept_tokens", "total_tokens")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(viaIdx.toSeq === direct.toSeq)
  }

  test("arriving-batch probe reads the stored index, catches the short dup") {
    val dir = tempDir("graft-sa3").toString
    // corpus = docs 1 and 3 (doc 1 owns the block); batch = doc 2
    val corpus = frame.filter($"doc_id" =!= 2L)
    DedupQueries.writeSubstrIndex(corpus, dir)
    val batch = frame.filter($"doc_id" === 2L)
    val probed = DedupQueries.substrDedupAgainstIndex(spark, dir, batch)
      .select("doc_id", "kept_tokens").as[(Long, Long)].collect().toMap
    // doc 2's 10-token copy is corpus-known at w = 8 → fully stripped,
    // WITHOUT re-tokenizing the corpus (only stored hashes participate)
    assert(probed === Map(2L -> 10L))
    // equivalence: the probe ≡ the inline corpus-recompute formulation
    // at the same width (what substrDedupAgainstCorpus does at W)
    val inline = {
      val ch = DedupQueries.substrGrams(corpus, DedupQueries.SaMinLen).select("h").distinct()
      val wOwn = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy(col("doc_id"), col("pos"))
      val dup = DedupQueries.substrGrams(batch, DedupQueries.SaMinLen)
        .join(ch.withColumn("ic", lit(1)), Seq("h"), "left")
        .withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(wOwn))
        .filter(col("ic").isNotNull || col("rn") > 1)
        .select("doc_id", "pos")
      DedupQueries.substrReassemble(batch, dup, DedupQueries.SaMinLen)
    }
    assert(DedupQueries.substrDedupAgainstIndex(spark, dir, batch)
             .collect().toSet === inline.collect().toSet)
  }

  test("width mismatch between build and probe is an ERROR, not a no-op") {
    val dir = tempDir("graft-sa4").toString
    DedupQueries.writeSubstrIndex(frame, dir, w = DedupQueries.SaMinLen)
    // a probe at a different width would hash into a disjoint gram
    // domain and silently strip nothing (ADVICE r19) — it must throw
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.substrDedupAgainstIndex(spark, dir,
        frame.filter($"doc_id" === 2L), w = DedupQueries.SaMinLen + 1)
        .collect()
    }
    assert(ex.getMessage.contains("gram width"))
    // and the recorded width itself round-trips: same-width probe runs
    assert(DedupQueries.substrDedupAgainstIndex(
             spark, dir, frame.filter($"doc_id" === 2L)).count() === 1)
  }

  test("stored layout: one triple per token position, sorted by (h, doc, pos)") {
    val dir = tempDir("graft-sa2").toString
    DedupQueries.writeSubstrIndex(frame, dir)
    val idx = graft.sources.AtomicPublish.readCommitted(spark, dir, "grams")
    val w = DedupQueries.SaMinLen
    val expected = docs.map { case (_, t) =>
      math.max(0, t.split(" ").length - w + 1) }.sum
    assert(idx.count() === expected)
    // within every bucket FILE rows are (h, doc_id, pos)-sorted — the
    // suffix-array adjacency property point probes and scans rely on
    idx.select(col("gbucket"), input_file_name().as("f"), col("h"),
               col("doc_id"), col("pos"))
      .collect()
      .groupBy(_.getString(1))
      .foreach { case (_, rows) =>
        val trip = rows.map(r => (
          r.getAs[Array[Byte]]("h").map("%02x".format(_)).mkString,
          r.getLong(3), r.getInt(4))).toSeq
        assert(trip === trip.sorted, "bucket file not (h, doc, pos)-sorted")
      }
  }
}
