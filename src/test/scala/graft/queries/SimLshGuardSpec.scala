package graft.queries


import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.vector.VectorOps

/** Sign-LSH degenerate-mode guard (VERDICT r10): an UNCENTERED corpus —
  * every coordinate positive — collapses all vectors into one orthant
  * bucket, turning the bucketed ANN join into brute force in disguise
  * (53.6 s vs 1.10 s at the 50k soak, BASELINE.md). These tests plant
  * exactly that corpus and prove (a) the operator's own `observe` metric
  * fires on the collapse, (b) the exact [[SimQueries.signBucketStats]]
  * diagnostic reports max_share = 1.0, and (c) the opt-in
  * [[SimQueries.meanCentered]] pre-pass restores bucket diversity. */
class SimLshGuardSpec extends SparkSpec {
  import spark.implicits._

  /** 60 vectors, 16 dims, every coordinate in (0, 2] — strictly positive,
    * so every raw sign bucket is 0xFF. Deterministic coords (no RNG). */
  private lazy val uncenteredDir: String = {
    val d = tempDir("graft-lsh-guard").toString
    (0L until 60L).map { i =>
      val v = Seq.tabulate(16)(j => 0.05f + ((i * 7 + j * 13) % 40) * 0.05f)
      (i, v, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def quantizedBucketed = SimQueries
    .quantizedFrame(spark, uncenteredDir)
    .withColumn("bucket", VectorOps.signBucket(col("q")))

  test("uncentered corpus: the operator's observe metric reports the bucket collapse") {
    // observedMetrics is blind under AQE (see SparkSpec.withoutAqe)
    withoutAqe {
      val df = SimQueries.qSimSearchLsh.fn(spark, uncenteredDir)
      df.collect()
      val m = df.queryExecution.observedMetrics(SimQueries.LshBucketObs)
      assert(m.getAs[Long]("rows") === 60L)
      assert(m.getAs[Long]("n_buckets") === 1L,
             s"all-positive corpus must collapse to one bucket, got $m")
    }
  }

  test("signBucketStats: exact diagnostic shows max_share = 1.0 on the collapsed corpus") {
    val stats = SimQueries.signBucketStats(quantizedBucketed).head()
    assert(stats.getAs[Long]("n_buckets") === 1L)
    assert(stats.getAs[Long]("max_bucket_n") === 60L)
    assert(stats.getAs[Double]("max_share") === 1.0)
  }

  test("meanCentered restores bucket diversity and max_share drops") {
    val centered = SimQueries.meanCentered(SimQueries.quantizedFrame(spark, uncenteredDir))
      .withColumn("bucket", VectorOps.signBucket(col("q")))
    val stats = SimQueries.signBucketStats(centered).head()
    assert(stats.getAs[Long]("n_rows") === 60L)
    assert(stats.getAs[Long]("n_buckets") > 8L,
           s"centering must spread the orthant prefix, got $stats")
    assert(stats.getAs[Double]("max_share") < 0.5,
           s"no single bucket may dominate after centering, got $stats")
  }

  test("meanCentered is exact integer arithmetic: subtracting the per-dim floor-mean") {
    val e = Seq((0L, Seq(10L, -3L)), (1L, Seq(13L, -3L)), (2L, Seq(20L, 4L)))
      .toDF("vec_id", "q")
    // dim0 mean 43/3 = 14.33… → floor 14; dim1 mean -2/3 = -0.66… → floor -1
    val got = SimQueries.meanCentered(e).orderBy("vec_id")
      .select("q").as[Seq[Long]].collect()
    assert(got === Array(Seq(-4L, -2L), Seq(-1L, -2L), Seq(6L, 5L)))
  }
}
