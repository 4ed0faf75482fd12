package graft.queries

import graft.Sessions
import graft.sources.Tables

/** Dev profiling harness (test scope, not shipped): times the exact
  * mixture draw on a documents dir with DocSynth's language set, so the
  * GlobalRank-based rank path has a corpus-scale measurement. Run:
  *   sbt "Test/runMain graft.queries.MixtureProfile /tmp/graft-soak-2m"
  */
object MixtureProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-soak")
    val s = Sessions.local("spark.app.name" -> "mixture-profile")
    s.sparkContext.setLogLevel("ERROR")
    val weights = Seq("en" -> 40, "de" -> 20, "fr" -> 20, "es" -> 20)
    val docs = Tables.read(s, dir, "documents")
    val n = docs.count()
    val t0 = System.nanoTime()
    val drawn = CurationQueries.mixtureSample(docs, "lang", weights)
    val counts = drawn.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[mixture-profile] n=$n drawn=${counts.values.sum} " +
            f"by_group=$counts wall=$secs%.2f s")
    s.stop()
  }
}
