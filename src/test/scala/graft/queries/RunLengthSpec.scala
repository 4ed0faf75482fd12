package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Run-length and JSON-extraction edge contracts. */
class RunLengthSpec extends SparkSpec {
  import spark.implicits._

  test("runs split on value change, not time; ties order by event_id") {
    val dir = tempDir("graft-rle").toString
    Seq(
      // user 1: A A B A — three runs despite wildly uneven time gaps
      (1L, 1L, 0L, "A"), (2L, 1L, 999999999L, "A"),
      (3L, 1L, 1000000000L, "B"),
      (4L, 1L, 1000000001L, "A"),
      // user 2: tie at ts 5 — ids 5 then 6 -> types B then A, two runs
      (5L, 2L, 5L, "B"), (6L, 2L, 5L, "A")
    ).toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us")
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{\"k\": 1}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = CoreQueries.qRunLength.fn(spark, dir)
      .select("user_id", "run_id", "event_type", "run_len")
      .as[(Long, Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === Map(
      (1L, 1L) -> (("A", 2L)), (1L, 2L) -> (("B", 1L)),
      (1L, 3L) -> (("A", 1L)),
      (2L, 1L) -> (("B", 1L)), (2L, 2L) -> (("A", 1L))))
  }

  test("from_json returns null on malformed payloads; counts show the deficit") {
    val d = Seq("{\"k\": 7}", "not json", null, "{\"k\": 2}").toDF("props")
    val parsed = d.select(
      from_json(col("props"),
                org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k"))
      .agg(count(col("k")).as("n_parsed"), sum("k").as("sum_k"))
      .as[(Long, Long)].head()
    assert(parsed === ((2L, 9L)))
  }
}
