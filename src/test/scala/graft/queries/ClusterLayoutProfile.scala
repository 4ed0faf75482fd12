package graft.queries

import graft.Sessions


/** Dev profiling harness (test scope, not shipped): quantifies the
  * cluster-layout payoff at the 200 k-vector soak — build ONCE, then
  * probe/sample/staleness as scans over stored labels, vs the
  * per-call recompute the self-contained gates pay. Run:
  *   sbt "Test/runMain graft.queries.ClusterLayoutProfile /tmp/graft-soak-200k"
  * Results pinned in BASELINE.md ("Cluster layout at 200 k vectors").
  */
object ClusterLayoutProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-soak-200k")
    val s = Sessions.local("spark.app.name" -> "cluster-layout-profile")
    s.sparkContext.setLogLevel("ERROR")

    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[clprof] $name%-36s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      r
    }

    val e = SimQueries.quantizedFrame(s, dir)
    val out = java.nio.file.Files.createTempDirectory("graft-cl-200k").toString
    t("recompute: clusterSampleOf (per-call)")(SimQueries.clusterSampleOf(e).count())
    t("build: writeClustersOf + centroids")(SimQueries.writeClustersOf(e, out))
    val probeVec = s.read.parquet(s"$out/members")
      .select("vec_id").head().getLong(0)
    t("probe: membership from layout")(
      SimQueries.probeClusters(s, out, probeVec).count())
    t("sample: balanced draw from layout")(
      SimQueries.clusterSampleFromLayout(s, out).count())
    t("staleness: drift metric from layout")(
      SimQueries.clusterStaleness(s, out).count())
    t("sample again (warm)")(
      SimQueries.clusterSampleFromLayout(s, out).count())
    s.stop()
  }
}
