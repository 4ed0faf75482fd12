package graft.queries


import graft.SparkSpec

/** Span-level language mixture: a half-and-half bilingual document must
  * flag `mixed` even though doc-level lang-ID classifies it confidently,
  * and monolingual documents must not. Profiles are corpus-trained, so
  * the fixture gives each language a disjoint vocabulary. */
class LangMixtureSpec extends SparkSpec {
  import spark.implicits._

  private val aTok = (1 to 10).map(i => s"alangword$i")
  private val bTok = (1 to 10).map(i => s"blangword$i")

  private lazy val dir: String = {
    val d = tempDir("graft-langmix").toString
    val mono =
      (0L until 20L).map(i => (i, Seq.fill(4)(aTok).flatten.mkString(" "), "aa")) ++
        (100L until 120L).map(i => (i, Seq.fill(4)(bTok).flatten.mkString(" "), "bb"))
    // doc 500: 20 aa tokens then 20 bb tokens — chunk 0 (tokens 1–20) is
    // pure aa, chunk 3 (tokens 31–40... wait stride 10: chunks at 1,11,21,31)
    // spans the seam but the END chunks are pure — two languages MUST
    // surface across the chunk votes
    val bilingual = Seq(
      (500L, (Seq.fill(2)(aTok).flatten ++ Seq.fill(2)(bTok).flatten)
               .mkString(" "), "aa"))
    (mono ++ bilingual).map { case (id, t, l) => (id, t, l, "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("bilingual doc flags mixed; monolingual docs do not; majority is deterministic") {
    val rows = TextStatsQueries.qLangMixture.fn(spark, dir)
      .as[(Long, Long, Long, Long, String, Int)].collect()
      .map(r => r._1 -> r).toMap
    // monolingual: one language across every chunk, never mixed
    (0L until 20L).foreach { id =>
      val (_, _, _, nLangs, major, mixed) = rows(id)
      assert(nLangs === 1L && major === "aa" && mixed === 0, s"doc $id")
    }
    (100L until 120L).foreach { id =>
      assert(rows(id)._5 === "bb" && rows(id)._6 === 0, s"doc $id")
    }
    // the half-and-half doc: both languages appear across its chunk
    // votes — the flag doc-level lang-ID cannot raise
    val (_, nChunks, nVoted, nLangs, _, mixed) = rows(500L)
    assert(nChunks === 3L) // 40 tokens, W=20/S=10 → chunks at 1, 11, 21
    assert(nVoted === nChunks)
    assert(nLangs === 2L && mixed === 1)
    // and the doc-level classifier indeed reports ONE confident language
    val docPred = TextStatsQueries.qLangId.fn(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 500L)
      .select("pred_lang").as[String].head()
    assert(Set("aa", "bb").contains(docPred))
  }
}
