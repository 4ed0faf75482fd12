package graft.queries


import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the streaming layout-probe regime's structural claims
  * (round-19 VERDICT missing #2): a micro-batch probed against the
  * committed IVF / member layouts reads ONLY the arriving cells'
  * partitions (the plan property the oracle hash can't state), and the
  * per-batch body reproduces the broadcast faces' answers exactly —
  * the dual-regime contract both probe gates state by reusing the
  * broadcast gates' oracles verbatim. */
class StreamProbeSpec extends SparkSpec {
  import spark.implicits._

  /** The SimIvfSpec two-cluster corpus: X members near vec 0, Y members
    * near vec 200 — cell membership is known by construction. */
  private lazy val dir: String = {
    val d = tempDir("graft-sprobe").toString
    val ex = Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f)
    val ey = Seq.fill(8)(0.0f) ++ Seq.fill(8)(1.0f)
    def near(base: Seq[Float], k: Int): Seq[Float] =
      base.updated(k % 8 + (if (base.head == 0f) 8 else 0), 0.9f)
    (Seq((0L, ex, 0), (200L, ey, 1), (100L, near(ex, 3), 0)) ++
      (1L to 5L).map(i => (i, near(ex, i.toInt), 0)) ++
      (201L to 205L).map(i => (i, near(ey, i.toInt), 1)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("probeIvfLayoutBatch prunes to the arriving cells' partitions") {
    import graft.vector.VectorOps
    val out = tempDir("graft-sprobe-ivf").toString
    SimQueries.writeIvfLayout(spark, dir, out)
    // batch = two X-cluster queries → ONE arriving cell of the 2 stored
    val batch = SimQueries.quantizedFrame(spark, dir)
      .filter(col("vec_id").isin(100L, 3L))
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    val probed = SimQueries.probeIvfLayoutBatch(spark, out, batch)
    val rows = probed.select("q_id", "vec_id", "dot", "rnk")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // every candidate comes from the X cluster (cell-local by design)
    assert(rows.forall(_._2 <= 100L),
           s"Y-cluster member leaked into an X-cell probe: ${rows.mkString(",")}")
    val scans = graft.PlanAudit.flatten(probed.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.metadata("Location").contains("cells") => f }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 1,
           s"expected 1 probed cell partition, got " +
             s"${scans.head.selectedPartitions.partitionCount}")
    assert(spark.read.parquet(s"$out/cells")
             .select("cell").distinct().count() === 2)
  }

  test("probeIvfLayoutBatch ≡ per-query probeIvfLayout at nprobe = 1") {
    val out = tempDir("graft-sprobe-eq").toString
    SimQueries.writeIvfLayout(spark, dir, out)
    val e = SimQueries.quantizedFrame(spark, dir)
    val batch = e.select(col("vec_id").as("q_id"), col("q").as("qq"))
    val viaBatch = SimQueries.probeIvfLayoutBatch(spark, out, batch)
      .select("q_id", "vec_id", "dot")
      .as[(Long, Long, Long)].collect().toSet
    val viaSingles = e.select("vec_id", "q").as[(Long, Seq[Long])].collect()
      .flatMap { case (id, qv) =>
        SimQueries.probeIvfLayout(spark, out, qv, nProbe = 1,
                                  excludeVecId = Some(id))
          .as[(Long, Long)].collect()
          .map { case (v, d) => (id, v, d) }
      }.toSet
    assert(viaBatch === viaSingles)
  }

  test("hardNegativesFromLayoutBatch ≡ the batch hard-negative pass") {
    val sf = "/root/testdata/sf0.001"
    val e = SimQueries.quantizedFrame(spark, sf)
    val qz = SimQueries.gateQuantizer(spark, sf)
    val out = tempDir("graft-sprobe-hn").toString
    // the members layout the probe face commits, built inline here
    SimQueries.assignCells(
        e.select(col("vec_id"), col("label"), col("q")), qz)
      .select(col("vec_id"), col("label"), col("q"), col("c_id").as("cell"))
      .withColumn("cbucket", pmod(xxhash64(col("cell")), lit(64L)))
      .repartition(col("cbucket"))
      .write.mode("overwrite").partitionBy("cbucket")
      .parquet(s"$out/members")
    graft.sources.AtomicPublish.commit(spark, out)
    val batch = e.select(col("vec_id").as("src"),
                         col("label").as("src_label"),
                         col("q").as("qq"))
    val viaLayout = StreamingQueries
      .hardNegativesFromLayoutBatch(spark, out, qz, batch)
      .select("src", "src_label", "dst", "dst_label", "dot", "rnk")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted
    val viaBatchPass = SimQueries
      .hardNegativesOf(e, cellCap = qz.cap, qz0 = Some(qz))
      .select("src", "src_label", "dst", "dst_label", "dot", "rnk")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted
    assert(viaLayout.toSeq === viaBatchPass.toSeq)
  }
}
