package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.HitParser
import graft.model.Schemas
import graft.sources.Tables

/**
 * Streaming ingest of reference-format TSV hit feeds (SURVEY.md §2 S1 as a
 * stream): the unbounded version of [[graft.sources.Tables.rawFeed]] — new
 * files appearing under the glob are discovered per micro-batch, parsed by
 * the SAME [[HitParser]] the batch path uses, and sessionized by the SAME
 * session-window body. The Beam unified-model claim (`main.py` is "batch
 * but written on the unified model") is made real here: one parser, one
 * sessionizer, two execution modes.
 *
 * At scale this is the continuous-ingest deployment: a landing bucket of
 * gzipped feed shards, `maxFilesPerTrigger` as backpressure, checkpointed
 * exactly-once file tracking — all standard file-stream machinery; nothing
 * in the query body changes.
 */
object StreamingFeed {

  /** Unbounded raw feed lines (single `value` column) under the batch
    * reader's line contract, read by the CSV reader
    * ([[Tables.rawFeedOptions]] says why). */
  def rawFeedStream(spark: SparkSession, path: String,
                    encoding: String = "UTF-8",
                    maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .options(Tables.rawFeedOptions(encoding))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema("value STRING")
      .csv(path)

  /** Parsed hit stream with event-time columns (ts is unix seconds); not
    * fanned out before the parse (OPTIMIZATION_r21.md, `q_stream_feed`). */
  def parsedStream(spark: SparkSession, path: String,
                   encoding: String = "UTF-8"): DataFrame =
    HitParser.parse(rawFeedStream(spark, path, encoding))
      .withColumn("ts_us", col("ts") * 1000000L)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))

  /** End-to-end streaming sessionization of a TSV feed directory. */
  def visitsFromFeed(spark: SparkSession, path: String,
                     encoding: String = "UTF-8"): DataFrame =
    StreamingSessionize.visitsStream(parsedStream(spark, path, encoding))

  /**
   * Tumbling-window event counts with a watermark — the standard streaming
   * aggregation shape (fixed windows rather than session windows): per
   * (window, event_type) counts over an events stream carrying
   * (event_type, ts_t).
   */
  def windowedCounts(events: DataFrame,
                     window: String = "1 hour",
                     watermarkDelay: String = Schemas.SessionGap): DataFrame =
    events
      .withWatermark("ts_t", watermarkDelay)
      .groupBy(org.apache.spark.sql.functions.window(col("ts_t"), window),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"))
}
