package graft.sources

import java.io.{FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ingest.{FeedFuzz, HitParser}
import graft.streaming.StreamingFeed

/** Source coverage: gzip + ISO-8859-1 charset fold-in (reference E1,
  * `encoding_update.py` — subsumed by the scan) and glob reading (S1),
  * for the batch feed reader and its stream twin. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def writeGz(path: String, charset: String, lines: Seq[String]): Unit = {
    val w = new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), charset)
    try w.write(lines.mkString("\n")) finally w.close()
  }

  /** The batch reader and the stream reader share one line-source
    * contract, so each reader-contract case runs against both: the stream
    * is drained with AvailableNow into a memory table. */
  private val readers: Seq[(String, (String, String) => DataFrame)] = Seq(
    "rawFeed" -> ((glob, enc) => Tables.rawFeed(spark, glob, enc)),
    "rawFeedStream" -> { (glob, enc) =>
      val name = s"graft_feed_${System.nanoTime()}"
      val q = StreamingFeed.rawFeedStream(spark, glob, enc)
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      spark.table(name)
    })

  for ((reader, read) <- readers) {
    test(s"$reader reads gzip ISO-8859-1 feeds without a separate transcode pass") {
      val dir = tempDir("graft-feed").toString
      // é in the page field: ISO-8859-1 byte 0xE9, not valid UTF-8
      val line = "1000\tu\tv\tTRK\t\t2\tcafé\tsrv\ti\ts"
      writeGz(s"$dir/feed.tsv.gz", "ISO-8859-1", Seq(line))
      val raw = read(s"$dir/*.tsv.gz", "ISO-8859-1")
      assert(raw.as[String].collect() === Array(line)) // é survives the charset fold-in
      assert(HitParser.parse(raw).collect().head.getAs[String]("page") === "café")
    }

    test(s"$reader passes quote and comma characters through verbatim (CSV quoting disabled)") {
      val dir = tempDir("graft-quotes").toString
      // page field contains quotes and commas — the CSV-reader-based line
      // source must not interpret them
      val line = "1000\tu\tv\t\t\t2\tsaid \"hi\", twice\tsrv\ti\ts"
      writeGz(s"$dir/feed.tsv.gz", "UTF-8", Seq(line))
      val raw = read(s"$dir/*.tsv.gz", "UTF-8")
      assert(raw.as[String].collect() === Array(line))
      assert(HitParser.parse(raw).collect().head.getAs[String]("page") === "said \"hi\", twice")
    }

    test(s"$reader's sentinel-sep contract: the live delimiter is u0001 and nothing else") {
      val dir = tempDir("graft-sep").toString
      // Pin the cut the rawFeed scaladoc documents: a planted \u0001 cuts
      // the line there (the stream reader's CSV sep is that sentinel, so it
      // truncates to the one-column schema) -- proving which character is
      // live -- while tab/comma/quote lines are never cut.
      val u1 = "\u0001"
      writeGz(s"$dir/feed.tsv.gz", "UTF-8", Seq(s"a\tb${u1}c\td", "plain\tline"))
      val got = read(s"$dir/*.tsv.gz", "UTF-8").as[String].collect().sorted
      assert(got === Array("a\tb", "plain\tline"))
    }
  }

  /** Writes `lines` joined by `\n` into `file`, gzipped when it ends in
    * `.gz`. */
  private def writeBytes(file: String, lines: Seq[Array[Byte]]): Unit = {
    val out = new FileOutputStream(file)
    val w = if (file.endsWith(".gz")) new GZIPOutputStream(out) else out
    try lines.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) w.write('\n')
      w.write(l)
    } finally w.close()
  }

  /** Both readers' lines over `glob`, each sorted (null first). */
  private def bothReads(glob: String, enc: String): (Seq[Option[String]], Seq[Option[String]]) = {
    def lines(df: DataFrame) = df.collect().map(r => Option(r.getString(0))).toSeq.sorted
    (lines(Tables.rawFeed(spark, glob, enc)), lines(CsvLineSource(spark, glob, enc)))
  }

  private val edgeLines = Seq(
    "", " ", "\t", "\r", "  \t ", "a\r", "\u0001x", "x\u0001y", "x\u0001", "\u0001",
    "\u0001\u0001x", " \u0001x", "\r\n", "say \"hi\", twice", "\"", ",,", "caf\u00e9 \u00ff\u00a0")

  test("rawFeed's line projection matches the CSV reader on the fuzz and the edge lines") {
    val dir = tempDir("graft-line-parity").toString
    val lines = FeedFuzz.lines() ++ edgeLines
    for (ext <- Seq("tsv", "tsv.gz")) {
      writeBytes(s"$dir/latin1.$ext", lines.map(_.getBytes(ISO_8859_1)))
      writeBytes(s"$dir/utf8.$ext", lines.map(_.getBytes(UTF_8)))
    }
    // String.trim drops every char <= ' ', so a line it empties is blank
    val nonBlank = lines.mkString("\n").split("\n", -1).count(_.trim.nonEmpty)
    for ((glob, enc) <- Seq(s"$dir/latin1.*" -> "ISO-8859-1", s"$dir/utf8.*" -> "UTF-8")) {
      val (got, oracle) = bothReads(glob, enc)
      assert(got.size === 2 * nonBlank, glob)
      assert(got === oracle, glob)
    }
  }

  test("rawFeed decodes invalid UTF-8 as the CSV reader does, but for encoded surrogates") {
    val dir = tempDir("graft-utf8-parity").toString
    val bad = Seq(Seq(0xFF), Seq(0xC3), Seq(0xE2, 0x82), Seq(0xF0, 0x9F, 0x98), Seq(0xC0, 0xAF))
      .map(_.map(_.toByte).toArray)
    def around(b: Array[Byte]) = Seq("x".getBytes ++ b ++ "y".getBytes, b, " ".getBytes ++ b)
    val surrogate = Array(0xED, 0xA0, 0x80).map(_.toByte)
    for (ext <- Seq("tsv", "tsv.gz")) {
      writeBytes(s"$dir/bad.$ext", bad.flatMap(around))
      writeBytes(s"$dir/surrogate.$ext", around(surrogate))
    }
    val (got, oracle) = bothReads(s"$dir/bad.*", "UTF-8")
    assert(got.size === 2 * 3 * bad.size)
    assert(got === oracle)
    // the one known difference: make_valid_utf8 replaces each byte of an
    // encoded surrogate, the JDK decoder the whole sequence
    val (gotS, oracleS) = bothReads(s"$dir/surrogate.*", "UTF-8")
    val (one, three) = ("\uFFFD", "\uFFFD" * 3)
    def twice(r: String) = Seq(s" $r", r, s"x${r}y").flatMap(l => Seq(l, l)).sorted.map(Option(_))
    assert(oracleS === twice(one))
    assert(gotS === twice(three))
  }

  test("rawFeed glob expansion reads multiple shards (Beam ReadFromText parity)") {
    val dir = tempDir("graft-shards").toString
    writeGz(s"$dir/part-0.tsv.gz", "UTF-8", Seq("1000\tu\tv\t\t\t2\tp\tsrv\ti\ts"))
    writeGz(s"$dir/part-1.tsv.gz", "UTF-8", Seq("2000\tu\tv\t\t\t2\tp\tsrv\ti\ts"))
    val n = Tables.rawFeed(spark, s"$dir/part-*.tsv.gz").count()
    assert(n === 2)
  }

  test("rawFeed on a glob reads every match without a FileStreamSink metadata probe") {
    val dir = tempDir("graft-glob-probe").toString
    writeGz(s"$dir/part-0.tsv.gz", "UTF-8", Seq("a\t1"))
    writeGz(s"$dir/part-1.tsv.gz", "UTF-8", Seq("b\t2"))
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-glob-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    val got =
      try Tables.rawFeed(spark, s"$dir/part-*.tsv.gz").as[String].collect().sorted
      finally { logger.removeAppender(appender); appender.stop() }
    assert(got === Array("a\t1", "b\t2"))
    assert(logged.isEmpty, s"FileStreamSink logged: ${logged.peek()}")
  }
}

/** The batch feed reader before the text-source rewrite, kept verbatim as
  * the parity tests' oracle: the CSV reader with the U+0001 sentinel as
  * its delimiter, quoting off and `lineSep` fixed. */
private object CsvLineSource {
  def apply(spark: SparkSession, path: String, encoding: String): DataFrame = {
    val p = new Path(path)
    val matched = Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                          .globStatus(p)).toSeq.flatten.map(_.getPath.toString)
    spark.read.options(Map(
        "sep" -> "\u0001", // the sentinel delimiter, as a VISIBLE escape
        "quote" -> "",
        "lineSep" -> "\n",
        "encoding" -> encoding)).schema("value STRING")
      .csv((if (matched.isEmpty) Seq(path) else matched): _*)
  }
}
