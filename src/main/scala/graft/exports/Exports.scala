package graft.exports

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.session.Sessionize
import graft.sources.Tables

/**
 * The reference's three denormalized exports (SURVEY.md §1.5, K1 sink —
 * `main.py:229-234`) as real sharded CSV writes: one shard per task and
 * export, exactly Beam's `WriteToText` shard model, with its
 * `<prefix>-SSSSS-of-NNNNN` names. Writing is embarrassingly parallel —
 * no coalesce, no global sort; at 100 TB the sink scales with the task
 * count.
 *
 * Input is the parsed-hit frame ([[graft.ingest.HitParser.parse]] output:
 * ts in unix seconds + the 13 reference fields). Each export has exactly
 * ONE definition, a column list over the sessionized frame; the public
 * per-frame API and [[writeAll]] both go through it.
 *
 * Every file output ([[writeAll]]'s exports, [[transcodeFeed]]'s feeds)
 * is finished in a staging directory first; one step, `replace`, then
 * puts it over the previous output — as Beam's finalize step does.
 */
object Exports {

  private def sessionized(parsedHits: DataFrame): DataFrame =
    Sessionize.withSessionBounds(parsedHits, gapUs = 1800L, tsUsCol = "ts")

  /** hits fields — 12, in reference order (`Schemas.hitsExportColumns`,
    * from `main.py:104-107`). One row per hit. */
  private val hitsColumns: Seq[Column] = Schemas.hitsExportColumns.map(col)

  /** visits fields (`main.py:99-102`), read off a session's closing row,
    * whose ts is the visit's end. */
  private val visitsColumns: Seq[Column] = Seq(
    col("visit_key"), col("user_id"),
    col("visit_start_us").as("visit_start"), col("ts").as("visit_end"))

  /** visitors fields (`main.py:157-160`): reference parity keeps one row
    * per hit (`main.py:214`; SURVEY.md §1.5 quirk). */
  private val visitorsColumns: Seq[Column] = Seq("user_id", "ibm_id", "scv_id").map(col)

  /** The export directories [[writeAll]] writes under its base dir. */
  val Names: Seq[String] = Seq("hits", "visits", "visitors")

  /** hits.csv frame. */
  def hitsFrame(parsedHits: DataFrame): DataFrame =
    sessionized(parsedHits).select(hitsColumns: _*)

  /** visits.csv frame: one row per session, its closing hit's. */
  def visitsFrame(parsedHits: DataFrame): DataFrame =
    sessionized(parsedHits).filter(col("session_last")).select(visitsColumns: _*)

  /** visitors.csv frame. */
  def visitorsFrame(parsedHits: DataFrame): DataFrame =
    parsedHits.select(visitorsColumns: _*)

  /** Write all three exports under `baseDir/{hits,visits,visitors}` as
    * sharded CSV (part-file per task ≡ Beam shard-per-bundle), in ONE job
    * over ONE sessionized pass with nothing cached — the reference's
    * shape (`main.py:207-234`). The pass sorts each user's hits once
    * (`Sessionize.withSessionBounds`). Every hit emits its hits and
    * visitors CSV lines and, on its session's closing hit, its visits
    * line, each tagged with its export; one text write partitioned by
    * that tag lands them in a staging directory under `baseDir`. The
    * shuffle stays visible to AQE, so task and file counts follow the
    * data.
    *
    * Each staged `export=<e>` directory is finished before any target is
    * touched: an export with no rows gets one empty shard, and every
    * shard gets its Beam name `<e>.csv-SSSSS-of-NNNNN` there. Only then
    * does each replace `baseDir/<e>`, gaining a `_SUCCESS` marker. A
    * failed job leaves the previous exports in place; the staging
    * directory is removed either way, and nothing else under `baseDir` is
    * touched. */
  def writeAll(parsedHits: DataFrame, baseDir: String): Unit = {
    def line(name: String, columns: Seq[Column]): Column =
      struct(lit(name).as("export"), to_csv(struct(columns: _*)).as("value"))
    val perHit = Seq(line("hits", hitsColumns), line("visitors", visitorsColumns))
    val lines = sessionized(parsedHits).select(inline(
      when(col("session_last"), array(perHit :+ line("visits", visitsColumns): _*))
        .otherwise(array(perHit: _*))))

    val base = new Path(baseDir)
    val fs = base.getFileSystem(parsedHits.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(base, s"_exports-staging-${UUID.randomUUID}")
    try {
      lines.write.partitionBy("export").text(staging.toString)
      val staged = Names.map(e => e -> new Path(staging, s"export=$e"))
      staged.foreach { case (e, dir) =>
        if (!fs.exists(dir)) fs.create(new Path(dir, "part-00000")).close()
        beamShardNames(parsedHits.sparkSession, dir.toString, s"$e.csv")
      }
      staged.foreach { case (e, dir) => replace(fs, dir, new Path(base, e)) }
    } finally fs.delete(staging, true)
  }

  /** Puts the finished `staged` directory over `target`, with a
    * `_SUCCESS` marker: the one step that deletes or renames an output
    * directory. */
  private def replace(fs: FileSystem, staged: Path, target: Path): Unit = {
    if (fs.exists(target)) require(fs.delete(target, true), s"cannot replace $target")
    require(fs.rename(staged, target), s"rename failed: $staged")
    fs.create(new Path(target, "_SUCCESS")).close()
  }

  /**
   * The write-back transcode job — `encoding_update.py:21-29` parity as a
   * FILE-PRODUCING job, for consumers that want re-encoded feeds on disk
   * rather than the scan-folded decode ([[Tables.rawFeed]] subsumes the
   * need inside this engine; this serves everyone else). Reads gzipped
   * feeds in `fromEncoding`, writes gzipped UTF-8 feeds (Spark's text sink
   * always emits UTF-8, so the decode IS the transcode). Unlike the
   * reference's single-node 64 KiB-block loop, this is one distributed
   * map: no shuffle, one output shard per input split, scales with tasks.
   * The feeds are written into a `_`-prefixed staging directory beside
   * `outDir` and replace it only when no input line is tainted (below),
   * so a tainted or failed transcode keeps the previous output.
   */
  def transcodeFeed(spark: SparkSession, inGlob: String, outDir: String,
                    fromEncoding: String = "ISO-8859-1"): Unit = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.makeQualified(new Path(outDir))
    // replacing the output deletes it - refuse an output that is the
    // input's own directory, which would take the input feeds with it
    require(target != fs.makeQualified(new Path(inGlob).getParent),
      s"transcodeFeed cannot write into its input directory ($outDir)")
    val staging = new Path(target.getParent, s"_${target.getName}-staging-${UUID.randomUUID}")
    // Single-pass \u0001 guard: rawFeed cuts a line at \u0001 (see
    // Tables.rawFeed) - tolerable for in-engine scans, not for a
    // file-producing job external consumers read. The transcode writes
    // rawFeed's lines before that cut, and an `observe` counts the ones
    // holding \u0001 DURING the transcode's own scan (no second
    // decompress pass). The output is staged, so a nonzero count fails
    // the job before the previous output is touched - write-then-verify.
    val obs = org.apache.spark.sql.Observation("graft_transcode_guard")
    try {
      Tables.feedLines(spark, inGlob, fromEncoding)
        .observe(obs, sum(when(col("value").contains("\u0001"), 1L).otherwise(0L))
                        .as("tainted"))
        .write
        .option("compression", "gzip")
        .text(staging.toString)
      val tainted = Option(obs.get("tainted")).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (tainted > 0L)
        throw new IllegalStateException(
          s"$tainted input line(s) contain \\u0001 - previous output kept")
      replace(fs, staging, target)
    } finally fs.delete(staging, true)
  }

  /**
   * Beam `WriteToText` shard-name parity (`main.py:229-234` emits
   * `<prefix>-SSSSS-of-NNNNN`; Spark emits `part-*`): renames the
   * part-files of a finished write so a consumer glob-matching Beam names
   * keeps working. A pure metadata operation through the Hadoop
   * FileSystem API (works on HDFS/object stores, O(#shards), no data
   * movement — renames are what Beam's own finalize step does). Shard
   * order follows part-file name order, matching the task-number order
   * both systems use. [[writeAll]] names its shards before it publishes,
   * so on its exports this only lists the names. Returns the new names.
   */
  def beamShardNames(spark: SparkSession, dir: String,
                     prefix: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(p).map(_.getPath)
    // NUMERIC task-number order, not lexicographic: "part-100000" sorts
    // before "part-99999" as a string, so ≥100k-shard exports would get
    // out-of-order shard indices under a name sort
    def taskNum(name: String): Long =
      "\\d+".r.findFirstIn(name).map(_.toLong).getOrElse(Long.MaxValue)
    val parts = listed.filter(_.getName.startsWith("part-"))
      .sortBy(f => (taskNum(f.getName), f.getName))
    val renamed = listed.map(_.getName)
      .filter(_.startsWith(s"$prefix-"))
      .sortBy(n => (taskNum(n.stripPrefix(s"$prefix-")), n)).toSeq
    // Idempotency/partial-failure guard: renames aren't atomic as a group.
    // A directory that already holds ONLY renamed shards is a completed
    // earlier run — return them unchanged. A MIX of part-* and renamed
    // files is an interrupted run whose shard totals would come out
    // inconsistent — fail loudly; re-write the export and rename again.
    if (parts.isEmpty) return renamed
    require(renamed.isEmpty,
      s"$dir holds both part-* and $prefix-* files (interrupted rename?) — " +
        "re-write the export before renaming")
    val n = parts.length
    parts.zipWithIndex.map { case (src, i) =>
      val name = f"$prefix-$i%05d-of-$n%05d"
      require(fs.rename(src, new Path(p, name)), s"rename failed: $src")
      name
    }.toSeq
  }
}
