package graft.queries


import graft.SparkSpec

/** IVF ANN tests: cluster routing on a planted two-cluster corpus, and
  * recall + exactness against the brute-force baseline on real testdata
  * (all inputs deterministic, so the measured recall is a constant). */
class SimIvfSpec extends SparkSpec {
  import spark.implicits._

  /** Two orthogonal clusters whose centroids sit at the deterministic
    * centroid ids (0, 200); query id 100 belongs to cluster X. */
  private lazy val dir: String = {
    val d = tempDir("graft-ivf").toString
    val ex = Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f) // cluster X direction
    val ey = Seq.fill(8)(0.0f) ++ Seq.fill(8)(1.0f) // cluster Y direction
    def near(base: Seq[Float], k: Int): Seq[Float] =
      base.updated(k % 8 + (if (base.head == 0f) 8 else 0), 0.9f)
    (Seq((0L, ex, 0), (200L, ey, 1), (100L, near(ex, 3), 0)) ++
      (1L to 5L).map(i => (i, near(ex, i.toInt), 0)) ++
      (201L to 205L).map(i => (i, near(ey, i.toInt), 1)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("q_sim_search_ivf routes the query to its own cluster") {
    val got = SimQueries.qSimSearchIvf.fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    val forQ100 = got.filter(_._1 == 100L).sortBy(_._4)
    assert(forQ100.nonEmpty)
    // nprobe=2 probes both cells here (only 2 exist), but ranking must
    // put every X-cluster member above every Y-cluster member: the top 6
    // ranked ids are exactly the X cluster minus the query itself
    val ids = forQ100.map(_._2)
    assert(ids.take(6).toSet === (0L to 5L).toSet,
           s"X-cluster members must rank first, got ${ids.mkString(",")}")
  }

  /** Three orthogonal clusters → three cells; nprobe=2 probes a strict
    * subset, so routing is load-bearing (with two cells, nprobe=2 would
    * trivially find everything). */
  private lazy val dir3: String = {
    val d = tempDir("graft-ivf3").toString
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    def near(base: Seq[Float], j: Int): Seq[Float] =
      base.updated(15, 0.1f * (j % 3 + 1)) // tiny off-axis wiggle, same cluster
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

  test("q_sim_search_ivf on three clusters: each query's own cluster fills the top ranks") {
    val got = SimQueries.qSimSearchIvf.fn(spark, dir3)
      .as[(Long, Long, Long, Long)].collect()
    val byQ = got.groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2)).toMap
    // query 100 (cluster X): the 6 other X members must be ranks 1..6
    assert(byQ(100L).take(6).toSet === (0L to 5L).toSet,
           s"got ${byQ(100L).mkString(",")}")
    // query 300 (cluster Y): the 6 other Y members must be ranks 1..6
    assert(byQ(300L).take(6).toSet === ((201L to 205L).toSet + 200L),
           s"got ${byQ(300L).mkString(",")}")
  }

  test("ivfTrain: trained centroid is the members' per-dimension FLOOR-mean (incl. negatives)") {
    val d = tempDir("graft-ivf-lloyd").toString
    // all three vectors land in the single seed cell (vec_id 0); the
    // trained centroid must floor-average them per dimension:
    // dim0: (-1000 - 900 - 351)/3 = -750.33… → FLOOR −751 (truncation
    // toward zero would give −750 — this pins floor semantics);
    // dim1: (300 + 300 + 400)/3 = 333.33… → 333
    Seq((0L, Seq(-1.0f, 0.3f), 0), (1L, Seq(-0.9f, 0.3f), 0),
        (2L, Seq(-0.351f, 0.4f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val cents = SimQueries.ivfTrain(SimQueries.quantizedFrame(spark, d))
      .select("c_id", "cq").as[(Long, Seq[Long])].collect()
    assert(cents.toSeq === Seq((0L, Seq(-751L, 333L))))
  }

  test("IVF layout: probe prunes to nprobe cell partitions and matches the in-memory ranking") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val out = tempDir("graft-ivf-layout").toString
    SimQueries.writeIvfLayout(spark, dir3, out)
    val qv = SimQueries.quantizedFrame(spark, dir3)
      .filter(col("vec_id") === 100L).select("q").as[Seq[Long]].head()
    val probe = SimQueries.probeIvfLayout(spark, out, qv,
                                          excludeVecId = Some(100L))
    val got = probe.as[(Long, Long)].collect()
    val mem = SimQueries.qSimSearchIvf.fn(spark, dir3)
      .filter(col("q_id") === 100L).orderBy("rnk")
      .select("vec_id", "dot").as[(Long, Long)].collect()
    assert(got.toSeq === mem.toSeq) // layout probe ≡ in-memory IVF query
    // the cells scan must read exactly the 2 probed partitions of 3
    val scans = graft.PlanAudit.flatten(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.metadata("Location").contains("cells") => f }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount === 2,
           s"expected 2 probed cells, got ${scans.head.selectedPartitions.partitionCount}")
    assert(spark.read.parquet(s"$out/cells").select("cell").distinct().count() === 3)
  }

  test("incremental append: probe over build ∪ append ≡ probe over full rebuild") {
    import org.apache.spark.sql.functions.col
    val e = SimQueries.quantizedFrame(spark, dir3)
    val incDir = tempDir("graft-ivf-inc").toString
    val fullDir = tempDir("graft-ivf-reb").toString
    // build without one member per cluster, then append exactly those —
    // in-distribution growth against frozen centroids
    val newIds = Seq(5L, 205L, 405L)
    SimQueries.writeIvfLayoutOf(e.filter(!col("vec_id").isin(newIds: _*)), incDir)
    SimQueries.appendToIvfLayout(spark, incDir,
                                 e.filter(col("vec_id").isin(newIds: _*)))
    SimQueries.writeIvfLayoutOf(e, fullDir)
    val qv = e.filter(col("vec_id") === 100L).select("q").as[Seq[Long]].head()
    val inc = SimQueries.probeIvfLayout(spark, incDir, qv,
                                        excludeVecId = Some(100L))
      .as[(Long, Long)].collect().toSeq
    val reb = SimQueries.probeIvfLayout(spark, fullDir, qv,
                                        excludeVecId = Some(100L))
      .as[(Long, Long)].collect().toSeq
    assert(inc === reb, "incrementally-grown layout must answer like a rebuild")
    // the appended X-cluster member is discoverable through appended files
    assert(inc.map(_._1).contains(5L))
  }

  test("ivfStaleness: flat under in-distribution appends, rises under drift") {
    import org.apache.spark.sql.functions.{avg, col}
    val e = SimQueries.quantizedFrame(spark, dir3)
    val d = tempDir("graft-ivf-stale").toString
    SimQueries.writeIvfLayoutOf(e, d)
    def overallDist: Double = SimQueries.ivfStaleness(spark, d)
      .agg(avg("mean_cos_dist")).head().getDouble(0)
    val atBuild = overallDist
    assert(atBuild >= 0.0 && atBuild < 0.2, s"tight clusters at build: $atBuild")
    // drifted appends: diagonal vectors far from every axis centroid —
    // the frozen quantizer no longer matches the data
    val drifted = (900L to 905L)
      .map(i => (i, Seq.fill(16)(1000L), 9)).toDF("vec_id", "q", "label")
      .select(col("vec_id"), col("label"), col("q"))
    SimQueries.appendToIvfLayout(spark, d, drifted)
    val afterDrift = overallDist
    assert(afterDrift > atBuild + 0.05,
           s"drift must raise staleness: $atBuild -> $afterDrift")
  }

  test("ivfStride: fixture-scale stride preserved, centroid count bounded at any n") {
    assert(SimQueries.ivfStride(500L) === 200L) // fixture scale: unchanged seeding
    assert(SimQueries.ivfStride(51200L) === 200L) // boundary: 256 seeds exactly
    assert(SimQueries.ivfStride(51201L) === 201L) // first capped stride
    // k = #multiples of stride in [0, n) stays ≤ MaxCents for contiguous ids
    Seq(500L, 51200L, 51201L, 1000000L, 10000000L, 1000000000L).foreach { n =>
      val k = (n - 1) / SimQueries.ivfStride(n) + 1
      assert(k <= SimQueries.MaxCents, s"n=$n k=$k")
    }
  }

  test("ivfSeeds: hard cap holds even on a stride-aligned (adversarial) id space") {
    // 300 vectors whose ids are ALL multiples of 200 — the stride filter
    // alone would keep every one; the rank cut must bound the broadcast
    val e = (0L until 300L).map(i => (i * 200L, Seq(i + 1L, 1L)))
      .toDF("vec_id", "q")
    val seeds = SimQueries.ivfSeeds(e)
    assert(seeds.count() === SimQueries.MaxCents)
    // deterministic cut: the LOWEST ids survive
    assert(seeds.agg(org.apache.spark.sql.functions.max("c_id"))
      .head().getLong(0) === (SimQueries.MaxCents - 1) * 200L)
  }

  /** Skew-stressed fixture: three orthogonal clusters with 10:1 size skew
    * (A 151, B 15, C 12 members) — seed ids 0/200/400 land one per
    * cluster, Lloyd must keep the small clusters' cells distinct. */
  private lazy val dirSkew: String = {
    val d = tempDir("graft-ivf-skew").toString
    def axis(k: Int): Seq[Float] =
      Seq.tabulate(16)(i => if (i >= 5 * k && i < 5 * k + 5) 1.0f else 0.0f)
    def near(base: Seq[Float], j: Int): Seq[Float] =
      base.updated(15, 0.1f * (j % 3 + 1))
    val rows =
      Seq((0L, axis(0), 0), (200L, axis(1), 1), (400L, axis(2), 2)) ++
        (1L to 150L).map(i => (i, near(axis(0), i.toInt), 0)) ++
        (201L to 214L).map(i => (i, near(axis(1), i.toInt), 1)) ++
        (401L to 411L).map(i => (i, near(axis(2), i.toInt), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("q_sim_search_ivf: recall@10 >= 0.9 under 10:1 cluster-size skew") {
    val brute = SimQueries.qSimSearch.fn(spark, dirSkew)
      .as[(Long, Long, Long, Long)].collect()
    val ivf = SimQueries.qSimSearchIvf.fn(spark, dirSkew)
      .as[(Long, Long, Long, Long)].collect()
    val bruteSet = brute.map(r => (r._1, r._2)).toSet
    // queries exist in every skew tier: 0,100 (A), 200 (B), 400 (C)
    assert(brute.map(_._1).distinct.sorted.toSeq === Seq(0L, 100L, 200L, 400L))
    val recall = ivf.count(r => bruteSet.contains((r._1, r._2))).toDouble / bruteSet.size
    assert(recall >= 0.9, s"recall@10 = $recall under skew")
  }

  test("q_sim_search_ivf vs brute force: dots exact, recall@10 >= 0.9 on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val brute = SimQueries.qSimSearch.fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = SimQueries.qSimSearchIvf.fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    // any pair IVF shares with brute force carries the identical exact dot
    ivf.foreach { case (q, v, dot, _) =>
      brute.get((q, v)).foreach(bd => assert(bd === dot)) }
    val recall = ivf.count(r => brute.contains((r._1, r._2))).toDouble / brute.size
    assert(recall >= 0.9, s"recall@10 = $recall") // measured 0.94 (trained), deterministic
  }
}
