package graft.streaming

import org.apache.spark.sql.functions._

import graft.Sessions

/** Dev soak harness (test scope, not shipped): state-growth measurement
  * for the raw-hold run-length protocol under a PACED replay.
  *
  * Why pacing matters here specifically: the oracle gate replays the
  * fixture as ONE micro-batch (plus sentinel), during which the
  * watermark is still at its pre-batch value — so the raw-hold state
  * legitimately buffers the whole batch. That is a REPLAY artifact:
  * in steady-state streaming the watermark advances every trigger and
  * raw state is bounded by (per-user activity × watermark delay). This
  * harness writes the synthetic stream as many chronological files and
  * drains with maxFilesPerTrigger=1, so the watermark walks forward
  * like production time does, and the state-store row counts reported
  * per progress event show the plateau (or refute it). Run:
  *   sbt "Test/runMain graft.streaming.StatefulRunsSoak 5000000 50000 40"
  */
object StatefulRunsSoak {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val nUsers = args.lift(1).map(_.toLong).getOrElse(50000L)
    val nFiles = args.lift(2).map(_.toInt).getOrElse(40)
    val s = Sessions.local("spark.app.name" -> "stateful-runs-soak")
    import s.implicits._
    s.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft-runs-soak").toString
    val baseUs = 1517000000L * 1000000L
    // sessionful synthetic stream: xxhash64-deterministic, chronological
    // by construction (ts monotone in id), ~100 events/user in bursts
    val ev = s.range(nRows)
      .select(
        col("id").as("event_id"),
        (col("id") % nUsers).cast("string").as("user_id"),
        (lit(baseUs) + expr(s"(id div $nUsers) * 60000000L") +
           pmod(xxhash64(col("id")), lit(30000000L))).as("ts_us"),
        when(pmod(xxhash64(col("id"), lit(7)), lit(10)) < 6, "view")
          .when(pmod(xxhash64(col("id"), lit(7)), lit(10)) < 9, "click")
          .otherwise("purchase").as("event_type"))
    // chronological file split: file i holds the i-th time slice
    ev.withColumn("f", (col("event_id") / (nRows / nFiles)).cast("int"))
      .repartitionByRange(nFiles, col("f"))
      .sortWithinPartitions("ts_us")
      .drop("f")
      .write.mode("overwrite").parquet(s"$dir/in")

    val stream = s.readStream.schema(s.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "30 minutes")
      .as[RunEvent]
    val t0 = System.nanoTime()
    val q = StatefulRuns.runs(s, stream)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val states = q.recentProgress.flatMap(_.stateOperators.headOption)
      .map(so => (so.numRowsTotal, so.memoryUsedBytes))
    val rows = s.read.parquet(s"$dir/out").count()
    System.err.println(
      f"[runs-soak] rows_in=$nRows users=$nUsers files=$nFiles wall=$wall%.1f s " +
        s"runs_out=$rows batches=${q.recentProgress.length} " +
        s"state_rows_per_batch=${states.map(_._1).mkString(",")} " +
        s"state_mb_max=${states.map(_._2).maxOption.getOrElse(0L) / 1024 / 1024}")
    q.stop()
    s.stop()
  }
}
