package graft.queries

import graft.SparkSpec

/** Round-21 fan-out helper semantics: widen a narrow compute-dense frame
  * to the session parallelism, pass an already-wide frame through
  * UNTOUCHED (the 100-TB posture — a real multi-split corpus must not
  * inherit a local-mode exchange), and honor the conf kill-switch. */
class FanOutSpec extends SparkSpec {
  import spark.implicits._

  private def parts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("a narrow frame widens to defaultParallelism; rows unchanged") {
    val d = (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1)
    val w = fanOut(d)
    assert(parts(w) === spark.sparkContext.defaultParallelism)
    assert(w.select("doc_id").as[Long].collect().sorted ===
             (0L until 100L).toArray)
  }

  test("an already-wide frame passes through with NO added exchange") {
    val target = spark.sparkContext.defaultParallelism
    val d = (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .repartition(target + 3)
    val w = fanOut(d)
    // identity, not merely same-width: the scale posture is zero plan change
    assert(w eq d)
  }

  test("spark.graft.fanout.parts <= 1 disables; explicit value wins") {
    val d = (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1)
    val key = "spark.graft.fanout.parts"
    try {
      spark.conf.set(key, "1")
      assert(fanOut(d) eq d)
      spark.conf.set(key, "3")
      assert(parts(fanOut(d)) === 3)
    } finally spark.conf.unset(key)
  }
}
