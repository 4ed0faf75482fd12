package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Ground truth of one operation's input, as `feedgen.py` records it. */
final case class Truth(lines: Long, hits: Long, visits: Long,
                       visitsDigest: Long, pagesDigest: Long)

object Truth {
  def apply(n: JsonNode): Truth =
    Truth(n.get("lines").asLong, n.get("hits").asLong, n.get("visits").asLong,
          n.get("visits_digest").asLong, n.get("pages_digest").asLong)
}

/** A generated feed directory: its hourly files, their truths, and the
  * truth of the whole feed read as one input. A stream over the feed
  * drains its first `streamFiles` files; `visitEnds` holds each of their
  * visits' last hit (unix seconds) and CRC, ordered by last hit. */
final case class Feed(dir: String, encoding: String, whole: Truth,
                      files: IndexedSeq[(String, Truth)],
                      streamFiles: Int, visitEnds: Array[(Long, Long)]) {

  private val ext = files.head._1.dropWhile(_ != '.')

  def path(file: String): String = s"$dir/$file"

  def allGlob: String = s"$dir/hits-*$ext"

  /** Glob over the streamed files. Hour names are `hits-HH.ext`, so a
    * character class over the last digit selects the leading files. */
  def streamGlob: String = {
    require(streamFiles >= 1 && streamFiles <= 10, s"bad stream file count $streamFiles")
    s"$dir/hits-0[0-${streamFiles - 1}]$ext"
  }

  def streamLines: Long = files.take(streamFiles).map(_._2.lines).sum

  /** Visits (count, digest) a watermark at `watermarkMs` has sealed: a
    * session window ends 30 minutes less 1 µs after its last hit, and
    * append mode emits it once that end is at or below the watermark. */
  def sealedBy(watermarkMs: Long): (Long, Long) = {
    var n, digest = 0L
    for ((end, crc) <- visitEnds if (end + 1800L) * 1000L <= watermarkMs) {
      n += 1; digest += crc
    }
    (n, digest)
  }
}

object Feed {
  def load(dir: String): Feed = {
    val t = new ObjectMapper().readTree(new File(s"$dir/truth.json"))
    val files = t.get("files").elements.asScala
      .map(f => f.get("file").asText -> Truth(f)).toIndexedSeq
    val ends = t.get("visit_ends").elements.asScala
      .map(e => (e.get(0).asLong, e.get(1).asLong)).toArray
    Feed(dir, t.get("encoding").asText, Truth(t), files,
         t.get("stream_files").asInt, ends)
  }
}
