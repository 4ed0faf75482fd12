package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/**
 * Readers for the driver-generated parquet tables (TESTDATA.md) and for
 * reference-format TSV hit feeds (SURVEY.md §2 S1/E1).
 *
 * Scale notes: all readers are plain declarative scans, so Catalyst pushes
 * filters and prunes columns into the parquet reader; at cluster scale the
 * same code paths read partitioned/bucketed layouts without change.
 */
object Tables {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** Read one testdata table by name.
    *
    * `events.ts` has shipped in two parquet encodings across driver
    * generations — TIMESTAMP(NANOS) (readable only as a raw nanos long
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, which every
    * session builder still pins for that fixture generation) and plain
    * µs TIMESTAMP without UTC adjustment (read as TIMESTAMP_NTZ).
    * [[tsUs]] normalizes either to the same integer µs the DuckDB
    * oracle's `epoch_us(ts)` computes, so query code never sees the
    * physical encoding. */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** µs-since-epoch long for an `events.ts` column that arrived as
    * `dt` — the one place the fixture's physical timestamp encoding is
    * interpreted (see [[read]]):
    *   - LongType: nanos-as-long fixture → integer `div 1000` (exactly
    *     DuckDB's ns → µs truncation);
    *   - TimestampType (µs, UTC-adjusted): `unix_micros` directly;
    *   - TimestampNTZType (µs, no zone): cast through TimestampType —
    *     exact because every session pins `spark.sql.session.timeZone`
    *     to UTC, matching DuckDB's naive-timestamp `epoch_us`. */
  def tsUs(dt: DataType, c: Column = col("ts")): Column = dt match {
    case LongType          => call_function("div", c, lit(1000L))
    case TimestampType     => unix_micros(c)
    case TimestampNTZType  => unix_micros(c.cast(TimestampType))
    case other =>
      throw new IllegalArgumentException(s"unsupported events.ts type: $other")
  }

  /**
   * The events stream table with normalized time columns:
   *   ts_us — µs since epoch (long; exact, matches DuckDB `epoch_us(ts)`)
   *   ts_t  — TimestampType at µs precision (for `session_window` etc.)
   * Integer µs everywhere keeps the DuckDB oracle comparison float-free.
   */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = read(spark, sfDir, "events")
    raw
      .withColumn("ts_us", tsUs(raw.schema("ts").dataType))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }

  /**
   * Reference-format TSV hit feed (one line per hit). Charset selectable to
   * subsume the reference's standalone transcoder (`encoding_update.py`):
   * instead of a separate gzip ISO-8859-1→UTF-8 re-encode pass, the charset
   * conversion folds into the scan. Gzip decompression is by extension,
   * matching Beam's `ReadFromText` behavior.
   *
   * Implemented over the CSV reader — the `text` source ignores the
   * `encoding` option (TablesSpec pins this), so CSV is the one line
   * source that can transcode. Reader contract relied on here — this is
   * observed behavior, not documented API, so TablesSpec pins every piece
   * of it against Spark upgrades: `sep` is EXPLICITLY the `\u0001`
   * sentinel (the original source carried it as a raw invisible byte; it
   * is now a visible escape), a character that never occurs in
   * Adobe-style TSV feeds, so feed lines land verbatim in the single
   * `value` column (verified: a planted `\u0001` DOES split a line);
   * an empty `quote` DISABLES quoting, keeping `"` characters literal; and
   * `lineSep="\n"` fixes the record boundary explicitly.
   */
  def rawFeed(spark: SparkSession, path: String,
              encoding: String = "UTF-8"): DataFrame =
    rawFeedWithSchema(spark, path, encoding, "value STRING")

  /** [[rawFeed]]'s CSV-reader options — single-sourced so the stream
    * reader (`StreamingFeed.rawFeedStream`) and the guard-column variant
    * below can never drift from the line-source contract. */
  private[graft] def rawFeedOptions(encoding: String): Map[String, String] = Map(
    "sep" -> "\u0001", // the sentinel delimiter, as a VISIBLE escape
    "quote" -> "",
    "lineSep" -> "\n",
    "encoding" -> encoding)

  /** [[rawFeed]]'s reader contract with a caller-supplied schema (a second
    * field catches lines the sentinel delimiter would split; see
    * Exports.transcodeFeed). A glob is expanded here, so Spark reads the
    * matched files: handed the literal glob, it probes that path for a
    * streaming sink's metadata and logs a WARN with a stack trace on
    * every read. When nothing matches, the glob goes through unchanged
    * and Spark raises its path-not-found error. */
  private[graft] def rawFeedWithSchema(spark: SparkSession, path: String,
                                       encoding: String,
                                       schema: String): DataFrame = {
    val p = new Path(path)
    val matched = Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                          .globStatus(p)).toSeq.flatten.map(_.getPath.toString)
    spark.read.options(rawFeedOptions(encoding)).schema(schema)
      .csv((if (matched.isEmpty) Seq(path) else matched): _*)
  }
}
