package graft.sources

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, TimestampNTZType, TimestampType}

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
   * Reference-format TSV hit feed (one line per hit) as one `value`
   * column. Gzip is decompressed by extension and a glob reads every
   * file it matches, as Beam's `ReadFromText` does; the charset decode
   * folds into the scan, subsuming the reference's standalone transcoder
   * (`encoding_update.py`).
   *
   * A plain line scan (the `text` source, `lineSep` fixed to `\n`) under
   * three projection rules, the line contract of the CSV reader this
   * method used before (TablesSpec keeps that reader as the parity
   * oracle):
   *   - a line that is empty or holds only chars ≤ `' '` is skipped; a
   *     trailing `\r` is kept (`"a\r"` stays `"a\r"`);
   *   - a line that contains U+0001 is cut before its first U+0001, and
   *     a line that starts with it reads as null;
   *   - the bytes are decoded in `encoding`: UTF-8 through
   *     `make_valid_utf8` (an invalid sequence becomes U+FFFD; on an
   *     encoded surrogate, `ED A0 80`, that gives three U+FFFD where the
   *     JDK decoder gives one), any other charset through `decode`.
   * The skip reads the undecoded bytes, so `encoding` must be
   * ASCII-compatible and one that `decode` accepts (UTF-8, ISO-8859-1,
   * US-ASCII). The common case is tested first: a line whose first char
   * is past `' '` and that holds no U+0001 costs one char test, one scan
   * for U+0001 and the decode.
   */
  def rawFeed(spark: SparkSession, path: String,
              encoding: String = "UTF-8"): DataFrame = {
    val line = col("value")
    val cut = when(line.contains(Sentinel),
                   when(!line.startsWith(Sentinel), substring_index(line, Sentinel, 1)))
      .otherwise(line)
    // through `inline`, so that Catalyst neither merges the cut into a
    // consumer's projection nor pushes a consumer's filter below it: the
    // cut runs once a line
    feedLines(spark, path, encoding).select(inline(array(struct(cut.as("value")))))
  }

  /** The char [[rawFeed]] cuts a line at, a visible escape (the feeds
    * carried it as a raw invisible byte). Tab-separated feeds never hold
    * it. */
  private val Sentinel = "\u0001"

  /** Every char ≤ `' '`: the chars a skipped line is made of. */
  private val Blank = (0 to 32).map(_.toChar).mkString

  /** [[rawFeed]]'s lines before the U+0001 cut: the blank-line skip and
    * the charset decode. `Exports.transcodeFeed` reads through it to
    * count the lines the cut would change. A glob is expanded here, so
    * Spark reads the matched files: handed the literal glob, it probes
    * that path for a streaming sink's metadata and logs a WARN with a
    * stack trace on every read. When nothing matches, the glob goes
    * through unchanged and Spark raises its path-not-found error. */
  private[graft] def feedLines(spark: SparkSession, path: String,
                               encoding: String): DataFrame = {
    val p = new Path(path)
    val matched = Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                          .globStatus(p)).toSeq.flatten.map(_.getPath.toString)
    val line = col("value")
    val charset = Charset.forName(encoding)
    val decoded =
      if (charset == UTF_8) make_valid_utf8(line)
      else decode(line.cast(BinaryType), charset.name)
    spark.read.option("lineSep", "\n")
      .text((if (matched.isEmpty) Seq(path) else matched): _*)
      .filter(ascii(line) > 32 || btrim(line, lit(Blank)) =!= "")
      .select(decoded.as("value"))
  }

  /** The CSV-reader options of `StreamingFeed.rawFeedStream`, which
    * keeps [[rawFeed]]'s contract on the CSV reader: `sep` is the U+0001
    * sentinel, so a line lands whole in one column and is cut at
    * U+0001; an empty `quote` keeps `"` literal. The stream stays on the
    * CSV reader because a text stream needs a per-row `decode` for
    * Latin-1, which read a gzipped hour in 0.114 s against the CSV
    * reader's 0.093 s. */
  private[graft] def rawFeedOptions(encoding: String): Map[String, String] = Map(
    "sep" -> Sentinel,
    "quote" -> "",
    "lineSep" -> "\n",
    "encoding" -> encoding)
}
