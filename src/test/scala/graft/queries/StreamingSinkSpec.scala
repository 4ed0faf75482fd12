package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stream-gate drain ([[StreamingQueries.drain]]) on its edge paths:
  * the sink read must come back as a distributed scan with the OUTPUT
  * frame's exact schema even when the drain emits zero rows — the sink
  * dir then holds no rows (or no part files at all), which would fail
  * schema inference without the explicit-schema read the drain pins. */
class StreamingSinkSpec extends SparkSpec {
  import spark.implicits._

  private def stagedStream(rows: Seq[(Long, String)]) = {
    val in = tempDir("graft-sinkspec").toString
    rows.toDF("id", "txt").coalesce(1).write.mode("overwrite").parquet(in)
    (in, spark.readStream.schema(spark.read.parquet(in).schema).parquet(in))
  }

  test("zero-row drain returns an empty frame with the output's exact schema") {
    val (in, stream) = stagedStream(Seq((1L, "a"), (2L, "b")))
    // a filter no input row satisfies: the batch runs, the sink commits,
    // zero rows land — the shape of a gate whose query finds nothing
    val out = stream.filter(col("id") < 0L)
      .select(col("id").as("key"), upper(col("txt")).as("upper_txt"))
    val result = StreamingQueries.drain(spark, in, "graft_sinkspec_zero", out)
    assert(result.schema === out.schema,
           "explicit-schema read must preserve the output schema with no data files")
    assert(result.count() === 0L)
    // the gate's accounting still fired for the empty drain
    assert(StreamingQueries.StreamObservability.last.contains("gate=graft_sinkspec_zero"))
  }

  test("zero-row drain: sink dir exists and any part files it wrote are empty") {
    val (in, stream) = stagedStream(Seq((3L, "c")))
    val out = stream.filter(lit(false)).select(col("id"), col("txt"))
    val result = StreamingQueries.drain(spark, in, "graft_sinkspec_empty", out)
    assert(result.isEmpty)
    // locate the sink dir through the scratch-naming convention: the
    // drain appends /out under a sink-<name>-<nanos> scratch dir
    val root = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft-layouts")
    val sinks = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("sink-graft_sinkspec_empty-"))
    assert(sinks.nonEmpty, "sink scratch dir must exist after the drain")
    val outDirs = sinks.map(d => new java.io.File(d, "out")).filter(_.isDirectory)
    assert(outDirs.nonEmpty, "sink out dir must exist even for a zero-row drain")
    // each batch writes a schema-only part file under out/batch-<id> for
    // a zero-row batch — the guarantee is that whatever it wrote reads
    // back as zero rows, not that no file exists; list the tree recursively
    def tree(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(tree)
    val partFiles = outDirs.toSeq.flatMap(tree)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    partFiles.foreach { f =>
      assert(spark.read.parquet(f.getPath).isEmpty,
             s"zero-row drain part file must hold no rows: $f")
    }
  }

  test("explicit-schema read survives a sink dir with NO data files") {
    // the case the harness' explicit-schema read exists for: a sink
    // directory holding only its (empty) streaming metadata log — e.g. a
    // drain whose query never committed a file — where schema inference
    // has nothing to infer from
    val base = tempDir("graft-sinkspec-meta").toString
    assert(new java.io.File(s"$base/out/_spark_metadata").mkdirs())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("txt", org.apache.spark.sql.types.StringType)))
    val result = spark.read.schema(schema).parquet(s"$base/out")
    assert(result.schema === schema)
    assert(result.isEmpty)
  }

  test("non-empty drain round-trips rows through the file sink") {
    val rows = Seq((10L, "x"), (11L, "y"), (12L, "z"))
    val (in, stream) = stagedStream(rows)
    val out = stream.select(col("id"), upper(col("txt")).as("u"))
    val result = StreamingQueries.drain(spark, in, "graft_sinkspec_rows", out)
      .as[(Long, String)].collect().sorted
    assert(result === rows.map { case (i, t) => (i, t.toUpperCase) }.sorted)
  }
}
