package graft.queries


import graft.SparkSpec

/** Semantic decontamination: a train vector pointing the same way as an
  * eval vector is flagged; orthogonal content is not; direction of the
  * pair (train_id, eval_id) follows the split, never the id order. */
class SemanticDecontamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft-semdecon").toString
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    // eval ids are % 5 == 4: 4 (axis-0 — the "leaked" eval doc), 9
    // (axis-2 — clean). Train: 0..3 on axis 0 (all near the leak),
    // 5..8 on axis 1 (clean).
    val rows =
      (0L to 3L).map(i => (i, axis(0), 0)) ++ Seq((4L, axis(0), 0)) ++
        (5L to 8L).map(i => (i, axis(1), 1)) ++ Seq((9L, axis(2), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("same-direction train/eval pairs flag; orthogonal ones don't") {
    val got = DedupQueries.qSemanticDecontam.fn(spark, dir)
      .select("train_id", "eval_id")
      .as[(Long, Long)].collect().toSet
    // every axis-0 train vector collides with eval 4 (identical
    // direction => cos = 1 >= tau); nothing flags against clean eval 9
    assert(got === (0L to 3L).map(_ -> 4L).toSet, s"got $got")
  }

  test("pairs orient train->eval regardless of id order") {
    // train ids 0..3 < eval id 4 here; also plant a HIGH train id
    // against a LOW eval id to pin orientation
    val d = tempDir("graft-semdecon2").toString
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    // id 200 doubles as the stride seed (ivfSeeds keeps multiples of
    // the 200-stride; without one, no cells train and nothing pairs)
    val rows = Seq((4L, axis(0), 0), (200L, axis(0), 0), (201L, axis(1), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = DedupQueries.qSemanticDecontam.fn(spark, d)
      .select("train_id", "eval_id").as[(Long, Long)].collect().toSet
    assert(got === Set(200L -> 4L), s"got $got")
  }
}
