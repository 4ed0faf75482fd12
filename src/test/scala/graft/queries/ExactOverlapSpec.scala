package graft.queries


import graft.SparkSpec

/** Exact 13-gram overlap decontamination: a planted shared 13-token run
  * is caught across the split boundary, a 12-token run is not, and the
  * stop-gram guard drops grams common to too many documents. */
class ExactOverlapSpec extends SparkSpec {
  import spark.implicits._

  // 13 shared tokens + 1 distinct tail ⇒ each doc has exactly 2 grams:
  // the shared body and a tail-bearing gram unique to the doc
  private val body13 =
    "one two three four five six seven eight nine ten eleven twelve thirteen"
  // 12 shared tokens + 1 distinct tail ⇒ one gram per doc, all distinct
  private val body12 =
    "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
  // a different 13-token body shared by MORE than MaxGramDocs=32 docs
  private val body13common =
    "red orange yellow green blue indigo violet black white gray brown pink gold"

  private lazy val dir: String = {
    val d = tempDir("graft-overlap").toString
    val rows =
      (0L until 30L).map(i => (i, s"$body13 tail$i")) ++
        (100L until 120L).map(i => (i, s"$body12 tail$i")) ++
        (200L until 240L).map(i => (i, s"$body13common tail$i"))
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def splits: Map[Long, String] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
              CurationQueries.splitName(
                CurationQueries.splitBucket(col("text"))).as("split"))
      .as[(Long, String)].collect().toMap
  }

  test("shared 13-gram pairs straddle the boundary; 12-gram and stop-gram families don't") {
    val sp = splits
    val fam1Train = (0L until 30L).filter(sp(_) == "train")
    val fam1Eval = (0L until 30L).filter(sp(_) != "train")
    // hash-determined, but stable: assert the fixture actually straddles
    assert(fam1Train.nonEmpty && fam1Eval.nonEmpty,
           s"family-1 fixture must straddle, got $sp")
    val got = DedupQueries.qExactOverlap.fn(spark, dir)
      .as[(Long, Long, String, Long)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    // every train×eval pair of family 1 is caught, with exactly the one
    // shared body gram
    for (t <- fam1Train; e <- fam1Eval) assert(pairs.contains((t, e)), s"($t,$e)")
    got.filter(r => r._1 < 30L).foreach(r => assert(r._4 === 1L, r.toString))
    // family 2 (12-token overlap) and family 3 (stop-gram df=40 > 32)
    // produce no pairs at all
    assert(!got.exists(r => r._1 >= 100L || r._2 >= 100L),
           s"unexpected pairs: ${got.filter(r => r._1 >= 100L || r._2 >= 100L).mkString(",")}")
    // and nothing else: output is exactly the family-1 cross pairs
    assert(pairs === (for (t <- fam1Train; e <- fam1Eval) yield (t, e)).toSet)
  }

  test("contamination score: exact integer basis points, common grams count") {
    val sp = splits
    val rows = DedupQueries.qContaminationScore.fn(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // report covers exactly the eval-side docs (every doc has ≥ 1 gram)
    assert(rows.keySet === sp.filter(_._2 != "train").keySet)
    rows.values.foreach { case (id, split, nGrams, nHit, bp) =>
      assert(split === sp(id))
      assert(nGrams === 2L || (id >= 100L && id < 120L && nGrams === 1L))
      assert(bp === nHit * 10000L / nGrams)
      if (id < 30L) {
        // family 1: the shared body gram is in train; the tail gram not
        assert(nHit === 1L && bp === 5000L, s"doc $id")
      } else if (id < 120L) {
        // family 2: the single 13-gram is unique per doc — clean
        assert(nHit === 0L && bp === 0L, s"doc $id")
      } else {
        // family 3: the df=40 common gram is EXCLUDED from q_exact_overlap
        // by the stop-gram guard but COUNTS here — boilerplate is still
        // memorizable contamination
        assert(nHit === 1L && bp === 5000L, s"doc $id")
      }
    }
  }
}
