package graft.queries

import graft.Sessions


/** Dev profiling harness (test scope, not shipped): times semanticDedup
  * at one or more cell caps on a documents+embeddings dir, so the
  * n²/cellCap pair-stage claim is MEASURED, not asserted. A cap of
  * `auto` (or 0) exercises the production DEFAULT — the count-derived
  * [[DedupQueries.semanticCellCap]]. Run:
  *   sbt "Test/runMain graft.queries.SemDedupProfile /tmp/graft-soak 256,auto"
  */
object SemDedupProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val caps = args.lift(1).getOrElse("256").split(",").map(_.trim).map {
      case "auto" => DedupQueries.DeriveCellCap
      case v => v.toLong
    }
    val s = Sessions.local("spark.app.name" -> "semdedup-profile")
    s.sparkContext.setLogLevel("ERROR")

    val n = SimQueries.quantizedFrame(s, dir).count()
    caps.foreach { cap =>
      val t0 = System.nanoTime()
      val e = SimQueries.quantizedFrame(s, dir)
      val out = DedupQueries.semanticDedup(e, cap)
      val kept = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val resolved =
        if (cap > 0) cap else DedupQueries.semanticCellCap(n)
      println(f"[semdedup-profile] n=$n cap=$cap resolved=$resolved " +
              f"kept=$kept dropped=${n - kept} wall=$secs%.2f s")
    }
    s.stop()
  }
}
