package graft.queries

import graft.SparkSpec

/** Last-touch attribution and windowed-funnel contracts: frame
  * boundaries, tie resolution, horizon inclusivity, and the
  * purchase-before-view exclusion. */
class AttributionSpec extends SparkSpec {
  import spark.implicits._

  private def run(q: Q, rows: Seq[(Long, Long, Long, String)]) = {
    val dir = tempDir("graft-attr").toString
    rows.toDF("event_id", "user_id", "ts_us", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros($"ts_us"))
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{\"k\": 1}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    q.fn(spark, dir)
  }

  test("attribution: last prior touch wins, ties break by event_id, first purchase gets nulls") {
    val got = run(CoreQueries.qAttribution, Seq(
      // user 1: purchase before anything -> null touch
      (1L, 1L, 100L, "purchase"),
      // two touches at the SAME ts: higher event_id wins the struct max
      (2L, 1L, 200L, "view"), (3L, 1L, 200L, "click"),
      (4L, 1L, 500L, "purchase"),
      // a later purchase does NOT become a touch for the next purchase
      (5L, 1L, 600L, "purchase")
    )).select("event_id", "touch_type", "touch_gap_us")
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((None, None)))
    assert(got(4L) === ((Some("click"), Some(300L))))
    // touch for 5 is still the click at 200 (purchases never attribute)
    assert(got(5L) === ((Some("click"), Some(400L))))
  }

  test("windowed funnel: pre-view purchases don't count; horizon is inclusive") {
    val week = 7L * 86400000000L
    val got = run(CoreQueries.qFunnelWindowed, Seq(
      // user 1: purchase BEFORE first view, none after -> not converted
      (1L, 1L, 50L, "purchase"), (2L, 1L, 100L, "view"),
      // user 2: purchase exactly AT the 7-day horizon -> converted
      (3L, 2L, 1000L, "view"), (4L, 2L, 1000L + week, "purchase"),
      // user 3: one microsecond past -> not converted
      (5L, 3L, 1000L, "view"), (6L, 3L, 1001L + week, "purchase"),
      // user 4: views only
      (7L, 4L, 1L, "view"),
      // user 5: purchases only -> absent from the funnel population
      (8L, 5L, 1L, "purchase")
    )).select("user_id", "converted_7d").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 0))
  }
}
