package graft.queries


import graft.SparkSpec

/** DSIR importance scoring must rank by CONTENT (target-vocabulary
  * likeness), not by the planted label, and the resample draw must be
  * exactly the deterministic hash-threshold over the scored frame. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  /** Target ('en') docs use vocabulary A; the raw pool adds off-target
    * filler in a disjoint vocabulary B (the dilution that makes
    * selection worth running at all) plus two 'xx'-labeled eval docs —
    * one written in vocabulary A, one in vocabulary B. DSIR's defining
    * property is that the vocab-A eval doc outranks the vocab-B one:
    * the scorer reads distributions, not labels. */
  private val vocabA = Seq("clean", "well", "formed", "prose", "reads", "nicely")
  private val vocabB = Seq("qq1", "qq2", "qq3", "junk4", "junk5", "junk6")

  private lazy val dir: String = {
    val d = tempDir("graft-dsir").toString
    val target = (0L until 20L).map { i =>
      (i, (vocabA ++ vocabA).mkString(" "), "en", "web", 10L)
    }
    val filler = (200L until 210L).map { i =>
      (i, vocabB.mkString(" "), "xx", "web", 10L)
    }
    val eval = Seq(
      (100L, vocabA.mkString(" "), "xx", "web", 10L), // target-like content
      (101L, vocabB.mkString(" "), "xx", "web", 10L)  // off-target content
    )
    (target ++ filler ++ eval)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private lazy val scored =
    CurationQueries.dsirScored(spark, dir)
      .select("doc_id", "sel_h", "n_feats", "imp_sum", "imp_bp")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("target-like content outranks off-target content regardless of label") {
    val (_, _, _, bpLike) = scored(100L)
    val (_, _, _, bpOff) = scored(101L)
    assert(bpLike > bpOff,
           s"vocab-A doc must outscore vocab-B doc: $bpLike vs $bpOff")
    // with the raw pool diluted by vocab-B filler, pure-target content
    // sits ABOVE neutral (closed form ≈ 1.063e6 modulo bucket collisions)
    assert(bpLike > 1000000L, s"target-like doc must be above neutral: $bpLike")
    // vocab B never appears in the target: every one of its buckets is
    // at the Laplace floor with raw_b ≈ 11 (closed form ≈ 9.1e4)
    assert(bpOff < 300000L, s"off-target doc must be floored: $bpOff")
  }

  test("feature count is unigrams + bigrams") {
    val (_, nf, _, _) = scored(100L)
    assert(nf === (vocabA.size + vocabA.size - 1).toLong)
  }

  test("resample is exactly the hash-threshold draw over the scored frame") {
    val kept = CurationQueries.qDsirResample.fn(spark, dir)
      .select("doc_id", "imp_bp", "h").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val expect = scored.collect {
      case (id, (selH, _, _, bp)) if selH < math.min(1000000L, bp) => id
    }.toSet
    assert(kept.keySet === expect, "kept set must equal the threshold draw")
    kept.foreach { case (id, (bp, h)) =>
      assert(bp === scored(id)._4, s"doc $id imp_bp drifted between faces")
      assert(h === scored(id)._1, s"doc $id h must be the scored sel_h")
    }
    // above-neutral docs ALWAYS survive (p = 1): doc 100 is above neutral
    assert(kept.contains(100L), "above-neutral doc must always be selected")
  }

  test("two-table form equals the embedded-label form on the gate's binding") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val two = CurationQueries.dsirScoredOf(d, d.filter(col("lang") === "en"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(two.keySet === scored.keySet)
    two.foreach { case (id, (nf, s, bp)) =>
      val (_, nf1, s1, bp1) = scored(id)
      assert(nf === nf1 && s === s1 && bp === bp1,
             s"doc $id drifted between the one- and two-table forms")
    }
  }

  test("pure projection scores equal the broadcast-join aggregation") {
    import org.apache.spark.sql.functions._
    val w = CurationQueries.trainDsirWeights(spark, dir)
    val feats = CurationQueries.dsirFeatsCol(col("text"))
    val proj = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
              size(feats).cast("long").as("n_feats"),
              CurationQueries.dsirScoreCol(feats, w).as("imp_sum"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(proj.keySet === scored.keySet)
    proj.foreach { case (id, (nf, s)) =>
      assert(nf === scored(id)._2, s"doc $id n_feats drifted")
      assert(s === scored(id)._3, s"doc $id imp_sum drifted between faces")
    }
  }
}
