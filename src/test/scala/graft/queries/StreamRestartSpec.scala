package graft.queries

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.model.Schemas
import graft.sources.Tables

/** A drain stopped after its first micro-batch and restarted from the same
  * checkpoint ([[StreamingQueries.drainAt]]) returns what an uninterrupted
  * drain returns, and what the batch face returns: for the custom-state
  * sessionizer and for a per-batch-transform drain (the layout probe). */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Each part as one parquet file `<i>.parquet` in a fresh dir, with
    * increasing mtimes so a `maxFilesPerTrigger = 1` stream reads them in
    * order, one per micro-batch. */
  private def stageParts(prefix: String, parts: Seq[DataFrame]): String = {
    val in = tempDir(prefix).toFile
    val t0 = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = tempDir(s"$prefix-part").toString
      p.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(in, s"$i.parquet")
      assert(part.renameTo(dst))
      assert(dst.setLastModified(t0 + i * 60000L))
    }
    in.toString
  }

  private def fileStream(in: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)

  /** Drain at `base`, failing the drain's second micro-batch, then drain
    * again at the same `base`. `perBatch`'s first call derives the output
    * schema; the next is batch 0 and the one after is batch 1. */
  private def stopAndResume(base: String, src: () => DataFrame,
                            perBatch: DataFrame => DataFrame): DataFrame = {
    var calls = 0
    val stopping = (b: DataFrame) => {
      calls += 1
      if (calls == 3) throw new IllegalStateException("stopped after batch 0")
      perBatch(b)
    }
    val e = intercept[StreamingQueryException](
      StreamingQueries.drainAt(spark, base, "restart", src(), stopping))
    assert(e.getMessage.contains("stopped after batch 0"))
    val committed = new File(s"$base/ckpt/commits").list().filterNot(_.startsWith("."))
    assert(committed.toSeq === Seq("0"), "exactly batch 0 committed before the stop")
    StreamingQueries.drainAt(spark, base, "restart", src(), perBatch)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val b2 = b.select(a.columns.map(col).toSeq: _*)
    assert(a.exceptAll(b2).isEmpty && b2.exceptAll(a).isEmpty)
  }

  test("StatefulSessionize: restarted drain ≡ uninterrupted drain ≡ batch visits") {
    val ev = Tables.events(spark, sf).select("user_id", "ts_us", "ts_t")
    val mid = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    // time-ordered files, so no event is late against an earlier file's
    // watermark; the flush sentinel (user -1) comes last
    val sentinel = Seq((-1L, StreamingQueries.FlushSentinelS * 1000000L))
      .toDF("user_id", "ts_us").withColumn("ts_t", timestamp_micros(col("ts_us")))
    val in = stageParts("graft-restart-sess",
      Seq(ev.filter(col("ts_us") < mid), ev.filter(col("ts_us") >= mid),
          sentinel.select(ev.columns.map(c => col(c).cast(ev.schema(c).dataType)).toSeq: _*)))
    def visits() = graft.streaming.StatefulSessionize.visits(spark,
      fileStream(in).withColumn("user_id", col("user_id").cast("string"))
        .withWatermark("ts_t", Schemas.SessionGap)
        .as[graft.streaming.SessionEvent]).toDF()
    def asLong(df: DataFrame) = df.filter(col("user_id") =!= "-1")
      .select(col("user_id").cast("long").as("user_id"), col("visit_start_us"),
              col("visit_end_us"), col("n_events"), col("visit_key"))
    val resumed = asLong(stopAndResume(tempDir("graft-restart-a").toString,
                                       () => visits(), identity))
    val whole = asLong(StreamingQueries.drainAt(
      spark, tempDir("graft-restart-b").toString, "restart", visits()))
    val batch = graft.session.Sessionize.visits(ev)
    assert(resumed.count() === batch.count())
    sameRows(resumed, whole)
    sameRows(resumed, batch)
  }

  test("per-batch layout probe: restarted drain ≡ uninterrupted drain ≡ batch probe") {
    import graft.vector.VectorOps
    val lay = tempDir("graft-restart-ivf").toString
    SimQueries.writeIvfLayout(spark, sf, lay)
    val queries = Tables.read(spark, sf, "embeddings")
      .filter(col("vec_id") % 100 === 0).select("vec_id", "embedding")
    val ids = queries.select("vec_id").as[Long].collect().sorted
    assert(ids.length >= 2)
    val in = stageParts("graft-restart-probe",
      Seq(queries.filter(col("vec_id") <= ids(ids.length / 2 - 1)),
          queries.filter(col("vec_id") > ids(ids.length / 2 - 1))))
    def arrivals(df: DataFrame) =
      df.select(col("vec_id").as("q_id"), VectorOps.quantize(col("embedding")).as("qq"))
    val probe = (b: DataFrame) => SimQueries.probeIvfLayoutBatch(spark, lay, b)
    val resumed = stopAndResume(tempDir("graft-restart-c").toString,
                                () => arrivals(fileStream(in)), probe)
    val whole = StreamingQueries.drainAt(spark, tempDir("graft-restart-d").toString,
                                         "restart", arrivals(fileStream(in)), probe)
    val batch = probe(arrivals(queries))
    assert(resumed.count() === batch.count())
    assert(resumed.count() > 0)
    sameRows(resumed, whole)
    sameRows(resumed, batch)
  }
}
