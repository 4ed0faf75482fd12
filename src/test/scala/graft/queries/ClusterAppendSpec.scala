package graft.queries


import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Incremental cluster-layout append: arrivals assign to the nearest
  * STORED centroid (frozen labels — no re-clustering), the appended
  * rows land in the right bucket directories, and the layout's probe
  * and sample read the MIXED built+appended membership correctly. */
class ClusterAppendSpec extends SparkSpec {
  import spark.implicits._

  /** The ClusterLayoutSpec axis fixture split by parity of the BUILD
    * set: build = three tight orthogonal clusters on axes X/Y/Z,
    * arrivals = fresh ids near axis X or axis Y, plus one zero vector
    * (no direction — must still be assigned deterministically). */
  private lazy val dir: String = {
    val d = tempDir("graft-cl-append").toString
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    def near(base: Seq[Float], j: Int): Seq[Float] =
      base.updated(15, 0.1f * (j % 3 + 1))
    val rows =
      Seq((0L, axis(0), 0), (200L, axis(1), 1), (400L, axis(2), 2)) ++
        (1L to 5L).map(i => (i, near(axis(0), i.toInt), 0)) ++
        (201L to 205L).map(i => (i, near(axis(1), i.toInt), 1)) ++
        (401L to 405L).map(i => (i, near(axis(2), i.toInt), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val e = SimQueries.quantizedFrame(spark, dir)

  private lazy val arrivals = {
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    Seq((1000L, axis(0).updated(14, 0.2f), 0),
        (1001L, axis(0).updated(13, 0.3f), 0),
        (1002L, axis(1).updated(14, 0.2f), 1),
        (1003L, Seq.fill(16)(0.0f), 9)) // zero vector: tiebreak-assigned
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"),
              graft.vector.VectorOps.quantize(col("embedding")).as("q"),
              col("label"))
      .select("vec_id", "label", "q")
  }

  private def buildAndAppend(): String = {
    val out = tempDir("graft-cl-app-out").toString
    SimQueries.writeClustersOf(e, out)
    SimQueries.appendToClusters(spark, out, arrivals)
    out
  }

  test("arrivals assign to the nearest stored centroid; build labels are untouched") {
    val out = buildAndAppend()
    val before = SimQueries.semanticClustersOf(e)
      .as[(Long, Long)].collect().toMap
    val after = spark.read.parquet(s"$out/members")
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    // frozen-label contract: every build vector keeps its exact label
    before.foreach { case (v, c) => assert(after(v) === c, s"build vec $v moved") }
    assert(after.size === before.size + 4)
    // expected assignment = brute-force argmax over the STORED nonzero
    // centroids (cosine key, cluster_id tiebreak). At this scale every
    // centroid is its own router seed and — by Cauchy-Schwarz — owns its
    // own cell, so the hierarchical path must agree with brute force
    // exactly; a router or in-cell ranking bug diverges here.
    val cents = spark.read.parquet(s"$out/centroids")
      .select("cluster_id", "cq", "cn").as[(Long, Seq[Long], Long)]
      .collect().filter(_._3 > 0)
    assert(cents.nonEmpty)
    def nearest(q: Seq[Long]): Long =
      cents.map { case (cid, cq, cn) =>
        val dot = q.zip(cq).map { case (a, b) => a * b }.sum
        (-dot.toDouble / math.sqrt(cn.toDouble), cid)
      }.min._2
    val arr = arrivals.select("vec_id", "q").as[(Long, Seq[Long])].collect()
    arr.foreach { case (v, q) =>
      assert(after(v) === nearest(q), s"arrival $v mis-assigned") }
    // the zero vector ties every cosine key at 0 → the tiebreak gives
    // the smallest candidate cluster_id; pin determinism across runs
    val out2 = buildAndAppend()
    val again = spark.read.parquet(s"$out2/members")
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(again(1003L) === after(1003L), "zero-vector assignment must be deterministic")
  }

  test("probe through the MIXED layout returns built and appended members together") {
    val out = buildAndAppend()
    val after = spark.read.parquet(s"$out/members")
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    val got = SimQueries.probeClusters(spark, out, vecId = 1000L)
      .as[(Long, Long)].collect().toMap
    val expected = after.filter(_._2 == after(1000L))
    assert(got === expected)
    assert(got.contains(1000L))
    assert(expected.keys.exists(_ < 1000L),
           "probe cluster should contain at least one BUILT member " +
             "(arrival 1000 was planted on a built axis)")
  }

  test("sample through the MIXED layout draws from the merged membership, within budget") {
    val out = buildAndAppend()
    val sample = SimQueries.clusterSampleFromLayout(spark, out, budget = 3)
      .as[(Long, Long, Long)].collect()
    val perCluster = sample.groupBy(_._2).view.mapValues(_.length)
    assert(perCluster.values.forall(_ <= 3))
    // the X cluster now has 8 members (6 built + 2 appended) — the draw
    // must consider ALL of them: the md5-rank prefix over the mixed set
    val members = spark.read.parquet(s"$out/members")
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val xc = members(1000L)
    val expectedDraw = members.filter(_._2 == xc).keys.toSeq
      .sortBy(v => (md5hex(s"cs:$v"), v)).take(3).toSet
    assert(sample.filter(_._2 == xc).map(_._1).toSet === expectedDraw)
  }

  test("appended rows land in their cluster's existing bucket directory") {
    val out = buildAndAppend()
    val spread = spark.read.parquet(s"$out/members")
      .groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.countDistinct("cbucket").as("nb"))
      .filter(col("nb") > 1).count()
    assert(spread === 0L, "append must use the same cbucket derivation as the build")
  }
}
