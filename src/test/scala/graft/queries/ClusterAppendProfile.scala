package graft.queries

import org.apache.spark.sql.functions._

import graft.Sessions

/** Dev profiling harness (test scope, not shipped): exercises
  * [[SimQueries.appendToClusters]]'s ROUTER REGIME — a layout with more
  * centroids than MaxCents, so the md5-stride seed selection and the
  * two-stage (route, in-cell rank) assignment actually engage (the spec
  * fixture stays under the cap, where routing degenerates to exact
  * nearest-centroid). Builds from the even half of a soak corpus,
  * appends the odd half, reports cluster/seed counts and walls. Run:
  *   sbt "Test/runMain graft.queries.ClusterAppendProfile /tmp/graft-soak"
  */
object ClusterAppendProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-soak")
    val s = Sessions.local()
    s.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Files.createTempDirectory("graft-cl-app-soak").toString
    val e = SimQueries.quantizedFrame(s, dir)
    val n = e.count()
    // sub-phase split (round-18: attribute the build bill): fixpoint
    // vs the layout write (members + centroids + commit)
    val tf0 = System.nanoTime()
    val evens = e.filter(col("vec_id") % 2 === 0)
    val labels = graft.operators.ConnectedComponents.labels(
      SimQueries.mutualEdgesOf(evens)).localCheckpoint()
    val tFix = (System.nanoTime() - tf0) / 1e9
    val tm0 = System.nanoTime()
    SimQueries.writeClustersOf(evens, out, withCentroids = false,
                               labels0 = Some(labels))
    val tMem = (System.nanoTime() - tm0) / 1e9
    val t0 = System.nanoTime()
    SimQueries.writeClustersOf(evens, out, labels0 = Some(labels))
    val tBuild = (System.nanoTime() - t0) / 1e9
    println(f"[cl-append-profile] fixpoint=$tFix%.1f s " +
            f"members_only=$tMem%.1f s members+cents=$tBuild%.1f s")
    val nCents = s.read.parquet(s"$out/centroids").count()
    val t1 = System.nanoTime()
    SimQueries.appendToClusters(s, out, e.filter(col("vec_id") % 2 =!= 0))
    val tAppend = (System.nanoTime() - t1) / 1e9
    val members = s.read.parquet(s"$out/members")
    val total = members.count()
    val distinct = members.select("vec_id").distinct().count()
    val spread = members.groupBy("cluster_id")
      .agg(countDistinct("cbucket").as("nb")).filter(col("nb") > 1).count()
    println(f"[cl-append-profile] n=$n centroids=$nCents " +
            f"router=${if (nCents > SimQueries.MaxCents) "STRIDE" else "degenerate"} " +
            f"build=$tBuild%.1f s append=$tAppend%.1f s " +
            f"members=$total distinct=$distinct bucket_spread=$spread")
    s.stop()
  }
}
