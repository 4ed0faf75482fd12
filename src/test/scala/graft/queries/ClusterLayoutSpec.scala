package graft.queries


import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The materialized cluster layout must be a pure materialization of
  * [[SimQueries.semanticClustersOf]] (probe and sample agree with the
  * from-scratch computation), and the probe must be scan+prune — one
  * bucket directory, zero shuffles. */
class ClusterLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Three orthogonal clusters (the SimIvfSpec dir3 fixture): X =
    * {0..5, 100}, Y = {200..205, 300}, Z = {400..405}. */
  private lazy val dir: String = {
    val d = tempDir("graft-cluster-layout").toString
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    def near(base: Seq[Float], j: Int): Seq[Float] =
      base.updated(15, 0.1f * (j % 3 + 1))
    val rows =
      Seq((0L, axis(0), 0), (200L, axis(1), 1), (400L, axis(2), 2)) ++
        (1L to 5L).map(i => (i, near(axis(0), i.toInt), 0)) ++
        Seq((100L, near(axis(0), 0), 0)) ++
        (201L to 205L).map(i => (i, near(axis(1), i.toInt), 1)) ++
        Seq((300L, near(axis(1), 0), 1)) ++
        (401L to 405L).map(i => (i, near(axis(2), i.toInt), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val e = SimQueries.quantizedFrame(spark, dir)

  test("probe through the layout ≡ from-scratch cluster membership; scan is pruned, shuffle-free") {
    val out = tempDir("graft-cl-out").toString
    SimQueries.writeClustersOf(e, out)
    val labels = SimQueries.semanticClustersOf(e)
      .as[(Long, Long)].collect().toMap
    // probe a member of a MULTI-member cluster (mutual-kNN keeps most of
    // this fixture singleton — hub edges aren't reciprocated): the probe
    // must return the whole cluster, not just the probed vector
    val multi = labels.groupBy(_._2).values.filter(_.size >= 2)
    assert(multi.nonEmpty, "fixture must yield at least one real cluster")
    val probeVec = multi.head.keys.min
    val probe = SimQueries.probeClusters(spark, out, vecId = probeVec)
    val got = probe.as[(Long, Long)].collect().toMap
    val expected = labels.filter(_._2 == labels(probeVec))
    assert(got === expected)
    assert(got.size >= 2)
    // scan+prune: exactly ONE bucket directory read, ZERO exchanges
    val plan = probe.queryExecution.executedPlan
    val scans = graft.PlanAudit.flatten(plan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 1,
           s"expected 1 pruned bucket, got ${scans.head.selectedPartitions.partitionCount}")
    assert(graft.PlanAudit.flatten(plan).collect { case x: Exchange => x }.isEmpty,
           "the probe must not shuffle")
  }

  test("sample through the layout ≡ from-scratch balanced sample") {
    val out = tempDir("graft-cl-sample").toString
    SimQueries.writeClustersOf(e, out)
    val stored = SimQueries.clusterSampleFromLayout(spark, out)
      .as[(Long, Long, Long)].collect().toSet
    val scratch = SimQueries.clusterSampleOf(e)
      .as[(Long, Long, Long)].collect().toSet
    assert(stored === scratch)
  }

  test("every vector lands in the layout exactly once, each cluster in one bucket") {
    val out = tempDir("graft-cl-inv").toString
    SimQueries.writeClustersOf(e, out)
    val members = spark.read.parquet(s"$out/members")
    assert(members.count() === e.count())
    assert(members.select("vec_id").distinct().count() === e.count())
    val spread = members.groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.countDistinct("cbucket").as("nb"))
      .filter(col("nb") > 1).count()
    assert(spread === 0L, "a cluster must never straddle bucket directories")
  }

  test("stored centroids are the members' per-dimension floor-mean; staleness is tight") {
    val out = tempDir("graft-cl-cent").toString
    SimQueries.writeClustersOf(e, out)
    val members = spark.read.parquet(s"$out/members")
      .select("cluster_id", "vec_id", "q")
      .as[(Long, Long, Seq[Long])].collect()
    val cents = spark.read.parquet(s"$out/centroids")
      .select("cluster_id", "cq", "n_members")
      .as[(Long, Seq[Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // one centroid per cluster, floor-mean verified independently
    assert(cents.keySet === members.map(_._1).toSet)
    members.groupBy(_._1).foreach { case (cid, ms) =>
      val (cq, n) = cents(cid)
      assert(n === ms.size)
      val dim = ms.head._3.size
      val expected = (0 until dim).map { d =>
        math.floor(ms.map(_._3(d)).sum.toDouble / ms.size).toLong
      }
      assert(cq === expected, s"cluster $cid centroid")
    }
    // planted clusters are tight: every member within 0.2 cosine distance
    val stale = SimQueries.clusterStaleness(spark, out)
      .select("cluster_id", "n_members", "mean_cos_dist")
      .as[(Long, Long, Option[Double])].collect()
    assert(stale.map(_._1).toSet === cents.keySet)
    stale.foreach { case (cid, n, d) =>
      assert(n === cents(cid)._2)
      d.foreach(v => assert(v >= 0.0 && v < 0.2, s"cluster $cid dist $v"))
    }
  }

  test("probing a vec_id absent from the layout fails loudly, not with NoSuchElement") {
    val out = tempDir("graft-cl-miss").toString
    SimQueries.writeClustersOf(e, out)
    val err = intercept[IllegalArgumentException] {
      SimQueries.probeClusters(spark, out, vecId = 999999L)
    }
    assert(err.getMessage.contains("999999"))
  }

  test("every job of a build, the concurrent centroid write's included, carries the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    def underGroup[A](g: String)(body: => A): A = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    // The listener bus delivers in order: once a marker job's start is
    // seen, every job started before it has been seen too.
    def drainTo(marker: String): Seq[String] = {
      underGroup(marker)(sc.parallelize(Seq(1), 1).count())
      Iterator.continually(groups.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { g => assert(g != null, s"listener never saw $marker"); g != marker }
        .toSeq
    }
    sc.addSparkListener(listener)
    try {
      drainTo("cluster-group-start")
      for (g <- Seq("cluster-build-a", "cluster-build-b")) {
        val out = tempDir("graft-cl-group").toString
        underGroup(g)(SimQueries.writeClustersOf(e, out))
        val seen = drainTo(s"$g-end")
        assert(seen.nonEmpty)
        assert(seen.forall(_ == g), s"jobs of build $g ran under groups ${seen.distinct}")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("members files are vec_id-sorted with disjoint row-group stats; point lookup prunes") {
    // a layout big enough to force MULTIPLE parquet row groups per
    // bucket file (tiny block size for the duration of the write), so
    // the row-group-skipping claim is testable rather than vacuous
    val big = (0L until 1200L).map(i =>
        (i, (i % 7).toInt, Seq.tabulate(8)(d => ((i * 31 + d * 17) % 50) - 25)))
      .toDF("vec_id", "label", "q")
    val out = tempDir("graft-cl-rg").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    // tiny row groups AND an eager size check: the writer only
    // evaluates block.size every row.check.min records, so small files
    // need both knobs or they flush as one group regardless
    val prev = Seq("parquet.block.size", "parquet.page.size.row.check.min",
                   "parquet.page.size.row.check.max").map(k => k -> hconf.get(k))
    hconf.setInt("parquet.block.size", 1024)
    hconf.setInt("parquet.page.size.row.check.min", 5)
    hconf.setInt("parquet.page.size.row.check.max", 5)
    try SimQueries.writeClustersOf(big, out, withCentroids = false)
    finally prev.foreach { case (k, v) =>
      if (v == null) hconf.unset(k) else hconf.set(k, v)
    }
    // physical order: every file's vec_ids ascend (the property that
    // makes per-row-group min/max tight)
    import org.apache.spark.sql.functions.input_file_name
    val perFile = spark.read.parquet(s"$out/members")
      .select(input_file_name().as("f"), col("vec_id"))
      .as[(String, Long)].collect().groupBy(_._1).values
    perFile.foreach { rows =>
      val ids = rows.map(_._2).toSeq
      assert(ids === ids.sorted, s"file not vec_id-sorted: ${rows.head._1}")
    }
    // footer stats: per file the row-group vec_id ranges are disjoint
    // and increasing, so ANY point lookup matches at most one row
    // group per file — and with several row groups per file that is a
    // real skip, not a full scan
    import scala.jdk.CollectionConverters._
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(hconf)
    val files = fs.listFiles(new org.apache.hadoop.fs.Path(s"$out/members"), true)
    var totalGroups = 0
    var filesWithManyGroups = 0
    val probeId = 601L
    var containing = 0
    while (files.hasNext) {
      val st = files.next()
      if (st.getPath.getName.startsWith("part-")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, hconf))
        try {
          val ranges = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == "vec_id").get
            val s0 = c.getStatistics
            (s0.genericGetMin.asInstanceOf[java.lang.Long].longValue,
             s0.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          }
          totalGroups += ranges.size
          if (ranges.size > 1) filesWithManyGroups += 1
          ranges.sliding(2).foreach {
            case Seq((_, max1), (min2, _)) =>
              assert(max1 < min2,
                s"overlapping row-group vec_id ranges in ${st.getPath}")
            case _ => ()
          }
          containing += ranges.count { case (mn, mx) => mn <= probeId && probeId <= mx }
        } finally reader.close()
      }
    }
    assert(filesWithManyGroups > 0,
      "fixture must produce multi-row-group files or the test is vacuous")
    assert(containing <= ClusterBucketsFiles(out),
      "a point lookup must match at most one row group per file")
    assert(containing < totalGroups,
      s"row-group stats must prune ($containing of $totalGroups contain the probe)")
    // and the point lookup's scan actually carries the pushed filter
    val scan = spark.read.parquet(s"$out/members")
      .filter(col("vec_id") === probeId)
      .queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f
      }.getOrElse(fail("no parquet scan"))
    assert(scan.metadata("PushedFilters").contains("vec_id"),
      s"vec_id must be pushed: ${scan.metadata("PushedFilters")}")
  }

  /** Number of data files under the members tree. */
  private def ClusterBucketsFiles(out: String): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(hconf)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$out/members"), true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.startsWith("part-")) n += 1 }
    n
  }
}
