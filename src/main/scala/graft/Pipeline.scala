package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkConf
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.exports.Exports
import graft.ingest.HitParser
import graft.sources.Tables

/**
 * The reference's ONE user-facing workflow (`main.py:167-234` — `run()`)
 * as a single command: read a TSV hit-feed glob, parse (drop-malformed),
 * sessionize, and write the three sharded CSV exports under the output
 * dir (`hits/`, `visits/`, `visitors/`), with Beam `WriteToText` shard
 * names (`<prefix>-SSSSS-of-NNNNN`) for consumer-glob parity.
 *
 *   sbt "runMain graft.Pipeline --input data/sample.tsv --output out/"
 *
 * (the reference's own defaults; `--input` takes any Hadoop glob, e.g.
 * a directory of gzipped feeds)
 *
 * Flags mirror the reference's argparse surface where it still makes
 * sense on Spark:
 *   --input <glob>      feed files (gzip by extension, like ReadFromText)
 *   --output <dir>      export base dir
 *   --encoding <cs>     feed charset (default UTF-8; ISO-8859-1 feeds
 *                       fold the `encoding_update.py` transcode into the
 *                       scan — no separate re-encode job)
 *   --master <url>      Spark master; the reference's
 *                       DirectRunner/DataflowRunner switch. Without it,
 *                       the launcher's (spark-submit's `--master`) is
 *                       kept, and `local[*]` is used when there is none
 *
 * The three exports come out of one job over one sessionized pass, Beam
 * shard names and all ([[Exports.writeAll]]).
 *
 * Drop accounting (the reference's TODO at `main.py:80`): input and
 * parsed row counts ride that job as `observe` metrics — no extra scan.
 * When nothing parses, AQE prunes the empty plan and its `observe` nodes
 * with it; only then are the counts taken by a separate scan. The run
 * ends with one JSON line on stdout:
 * `{"input_rows":…,"parsed_rows":…,"dropped":…,"output":"…"}`.
 */
object Pipeline {

  final case class Args(input: String, output: String,
                        encoding: String = "UTF-8",
                        master: Option[String] = None)

  private val usage =
    "usage: graft.Pipeline --input <glob> --output <dir> " +
      "[--encoding <charset>] [--master <url>]"

  private[graft] def parseArgs(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args, seen: Set[String]): (Args, Set[String]) =
      rest match {
        case "--input" :: v :: t    => loop(t, acc.copy(input = v), seen + "input")
        case "--output" :: v :: t   => loop(t, acc.copy(output = v), seen + "output")
        case "--encoding" :: v :: t => loop(t, acc.copy(encoding = v), seen)
        case "--master" :: v :: t   => loop(t, acc.copy(master = Some(v)), seen)
        case Nil                    => (acc, seen)
        case bad :: _ => throw new IllegalArgumentException(s"$usage (got: $bad)")
      }
    val (args, seen) = loop(argv.toList, Args("", ""), Set.empty)
    require(seen("input") && seen("output"), usage)
    args
  }

  /** The pipeline body on an existing session — callable from library
    * code and the spec; [[main]] only adds session setup + arg parsing.
    * Returns (input_rows, parsed_rows); the difference is the
    * drop-malformed count. */
  def run(spark: SparkSession, input: String, output: String,
          encoding: String = "UTF-8"): (Long, Long) = {
    val inObs = Observation("graft_pipeline_in")
    val outObs = Observation("graft_pipeline_out")
    val raw = Tables.rawFeed(spark, input, encoding)
    val parsed = HitParser.parse(raw.observe(inObs, count(lit(1)).as("input_rows")))
      .observe(outObs, count(lit(1)).as("parsed_rows"))
    Exports.writeAll(parsed, output)
    def observed(obs: Observation, key: String, recount: => Long): Long =
      obs.get.get(key).map(_.asInstanceOf[Long]).getOrElse(recount)
    (observed(inObs, "input_rows", raw.count()),
     observed(outObs, "parsed_rows", HitParser.parse(raw).count()))
  }

  /** [[main]]'s closing line: the run's counts as one JSON object. */
  private[graft] def summaryJson(inputRows: Long, parsedRows: Long,
                                 output: String): String = {
    val json = new ObjectMapper()
    json.writeValueAsString(json.createObjectNode()
      .put("input_rows", inputRows)
      .put("parsed_rows", parsedRows)
      .put("dropped", inputRows - parsedRows)
      .put("output", output))
  }

  /** The master [[main]] sets: `--master` when given, else none when the
    * launcher configured `spark.master`, else `local[*]`. */
  private[graft] def masterToSet(flag: Option[String],
                                 launcher: Option[String]): Option[String] =
    flag.orElse(Option.when(launcher.isEmpty)("local[*]"))

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toIndexedSeq)
    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
    masterToSet(args.master, new SparkConf().getOption("spark.master"))
      .foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (in, out) = run(spark, args.input, args.output, args.encoding)
      println(summaryJson(in, out, args.output))
    } finally spark.stop()
  }
}
