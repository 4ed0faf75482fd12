package graft.queries

import graft.Sessions


/** Dev profiling harness (test scope, not shipped): measures recall@K of
  * the ANN variants against the brute-force gate on a SOAK corpus. The
  * fixture-scale recall specs run on near-random vectors — the
  * adversarial floor case for locality bucketing; this harness runs the
  * same comparison on the family-CLUSTERED soak corpora (the premise of
  * IVF/SemDeDup is that real embedding corpora cluster), so the recall
  * claim is measured on both regimes. Run:
  *   sbt "Test/runMain graft.queries.AnnRecallProfile /tmp/graft-soak"
  */
object AnnRecallProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-soak")
    val s = Sessions.local("spark.app.name" -> "ann-recall-profile")
    s.sparkContext.setLogLevel("ERROR")

    def pairs(q: String): Set[(Long, Long)] =
      graft.SparkEntry.queries(q)(s, dir)
        .select("q_id", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val truth = pairs("q_sim_search")
    for (variant <- Seq("q_sim_search_ivf", "q_sim_search_lsh",
                        "q_sim_search_mp")) {
      val got = pairs(variant)
      val hit = (got intersect truth).size
      System.err.println(
        f"[ann-recall] $variant%-18s recall@k = ${hit.toDouble / truth.size}%.3f " +
          f"(${hit}/${truth.size} of brute-force pairs; returned ${got.size})")
    }
    s.stop()
  }
}
