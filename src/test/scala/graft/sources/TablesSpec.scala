package graft.sources

import java.io.{FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ingest.HitParser
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
      // Pin the delimiter the rawFeed scaladoc documents: sep is explicitly
      // the \u0001 sentinel. A planted \u0001 DOES split (truncating to
      // the one-column schema) -- proving which character is live -- while
      // tab/comma/quote lines never split.
      val u1 = "\u0001"
      writeGz(s"$dir/feed.tsv.gz", "UTF-8", Seq(s"a\tb${u1}c\td", "plain\tline"))
      val got = read(s"$dir/*.tsv.gz", "UTF-8").as[String].collect().sorted
      assert(got === Array("a\tb", "plain\tline"))
    }
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
