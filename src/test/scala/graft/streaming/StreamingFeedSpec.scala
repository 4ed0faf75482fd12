package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.HitParser
import graft.session.Sessionize
import graft.sources.Tables

/** Streaming TSV ingest and windowed aggregation: the file-stream path must
  * produce exactly what the batch path produces on the same files. */
class StreamingFeedSpec extends SparkSpec {
  import spark.implicits._

  private def writeFeed(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("streaming TSV feed → parse → sessionize ≡ batch on the same files") {
    val dir = tempDir("graft-streamfeed").toString
    val u = Seq("10001026", "3484482593")
    def line(ts: Long) =
      s"$ts\t${u(0)}\t${u(1)}\tTRK\t\t2,12\tM:Home\tsrv\ti1\ts1"
    // two sessions (5.8-day gap) split across two shard files + one bad row
    writeFeed(dir, "feed-0.tsv", Seq(line(1517958846L), line(1517958850L), "bad\trow"))
    writeFeed(dir, "feed-1.tsv", Seq(line(1517458988L)))
    // a sentinel user far in the future advances the watermark so all real
    // sessions finalize under append mode
    writeFeed(dir, "feed-9.tsv",
      Seq(s"1600000000\tzz\tsentinel\t\t\t2\tp\tsrv\ti\ts"))

    val q = StreamingFeed.visitsFromFeed(spark, s"$dir/*.tsv")
      .writeStream.format("memory").queryName("graft_feed_visits")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("graft_feed_visits")
      .filter(col("user_id") =!= "zz_sentinel")
      .select("user_id", "visit_start_us", "visit_end_us", "n_events", "visit_key")
      .as[(String, Long, Long, Long, String)].collect().sorted

    val batch = Sessionize.visits(
      HitParser.parse(Tables.rawFeed(spark, s"$dir/feed-[01].tsv"))
        .withColumn("ts_us", col("ts") * 1000000L)
        .withColumn("ts_t", timestamp_micros(col("ts_us"))))
      .select("user_id", "visit_start_us", "visit_end_us", "n_events", "visit_key")
      .as[(String, Long, Long, Long, String)].collect().sorted

    assert(streamed === batch)
    assert(streamed.length === 2) // the 5.8-day gap splits; the bad row drops
  }

  test("windowed counts with watermark ≡ batch tumbling-window aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ("view", 1000L), ("view", 1700L), ("click", 2500L),
      ("view", 3600L + 10L), ("click", 3600L + 20L),
      ("purchase", 2 * 3600L + 5L)
    ).map { case (t, sec) => StreamTypedEvent(t, sec * 1000000L) }

    val input = MemoryStream[StreamTypedEvent]
    val q = StreamingFeed.windowedCounts(
        input.toDF().withColumn("ts_t", timestamp_micros(col("ts_us"))))
      .writeStream.format("memory").queryName("graft_windowed")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      input.addData(Seq(StreamTypedEvent("view", 100L * 3600L * 1000000L)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("graft_windowed")
      .filter(col("window_start") < timestamp_micros(lit(99L * 3600L * 1000000L)))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2, r._3)).sorted

    val batch = events.toDF()
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1.getTime, r._2, r._3)).sorted

    assert(streamed === batch)
    assert(streamed.length === 5) // (h0: view=2, click=1) (h1: view=1, click=1) (h2: purchase=1)
  }
}

final case class StreamTypedEvent(event_type: String, ts_us: Long)
