package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The hashed-feature linear classifier must separate planted
  * high/low-quality vocabularies, stay exact-integer, and score
  * identically through the join formulation (the gate) and the pure
  * projection (the streaming face). */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: 'en'-labeled docs use the GOOD vocabulary, others the
    * BAD one; the two vocabularies are disjoint, so every hashed
    * bucket's weight is cleanly signed (up to the 512-bucket collision
    * noise, which the margins below swamp). Eval docs (id % 5 == 4)
    * draw from one vocabulary each. */
  private val good = Seq("clear", "prose", "reads", "well", "with", "structure")
  private val bad = Seq("zz1", "zz2", "zz3", "spam4", "spam5", "spam6")

  private lazy val dir: String = {
    val d = tempDir("graft-qc").toString
    val ref = (0L until 40L).filter(_ % 5 != 4).map { i =>
      if (i % 2 == 0) (i, (good ++ good).mkString(" "), "en", "web", 10L)
      else (i, (bad ++ bad).mkString(" "), "de", "web", 10L)
    }
    val eval = Seq(
      (4L, good.mkString(" "), "xx", "web", 10L),            // good vocab
      (9L, bad.mkString(" "), "xx", "web", 10L),             // bad vocab
      (14L, (good ++ good ++ bad).mkString(" "), "xx", "web", 10L), // 2:1 good
      (19L, "totally novel words only here", "xx", "web", 10L)      // unseen
    )
    (ref ++ eval).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private lazy val scored =
    CurationQueries.qQualityClassifier.fn(spark, dir)
      .select("doc_id", "n_tokens", "score_sum", "pred_pos")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("planted good/bad vocabularies classify by sign; unseen text scores 0") {
    assert(scored.keySet === Set(4L, 9L, 14L, 19L))
    val (nG, sG, pG) = scored(4L)
    val (nB, sB, pB) = scored(9L)
    val (_, sM, pM) = scored(14L)
    val (_, sU, pU) = scored(19L)
    assert(pG === 1L && sG > 0, s"good-vocab doc must score positive: $sG")
    assert(pB === 0L && sB < 0, s"bad-vocab doc must score negative: $sB")
    assert(pM === 1L && sM > 0, "2:1 good-majority doc must classify positive")
    // every unseen token hits a bucket whose trained weight is 0 (or a
    // collision — none in this fixture): coalesce keeps it exact 0
    assert(sU === 0L && pU === 0L, "wholly-unseen text is score 0, not-positive")
    assert(nG === good.size.toLong && nB === bad.size.toLong)
    // exact weights: each good token occurs 2x in each of 16 'en' refs
    // → w = +32; so the good doc's sum is 6 * 32
    assert(sG === 6L * 32L)
    assert(sB === -6L * 32L)
  }

  test("the pure-projection scorer (streaming face) equals the join formulation") {
    // materialize the trained weight table exactly as a deployment
    // would: collect the 512-bucket array once, then score as a
    // stateless per-row projection
    val tb = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull && col("doc_id") % 5 =!= 4)
      .select(col("lang"), explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .withColumn("b", graft.text.TextOps.md5Prefix32(md5(col("tok")))
                         % CurationQueries.QcBuckets)
      .groupBy("b")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(-1L)).as("wt"))
      .as[(Long, Long)].collect().toMap
    val weights = Seq.tabulate(CurationQueries.QcBuckets.toInt)(b =>
      tb.getOrElse(b.toLong, 0L))
    val proj = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"),
              CurationQueries.qualityScoreCol(col("text"), weights).as("s"))
      .as[(Long, Long)].collect().toMap
    scored.foreach { case (id, (_, sum0, _)) =>
      assert(proj(id) === sum0, s"projection diverges from join path for doc $id")
    }
  }
}
