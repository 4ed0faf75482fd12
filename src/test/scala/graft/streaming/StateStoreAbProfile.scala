package graft.streaming

import graft.Sessions

/** Dev profiling harness (test scope, not shipped): A/Bs the state-store
  * provider (default HDFSBacked vs RocksDB) on the heavy-STATE streaming
  * gates, so the "state-store class price" attribution in BASELINE.md is
  * a measured choice, not an assumption. Each (provider, gate) cell runs
  * the full gate body (build + AvailableNow drain + sink read) in one
  * JVM; pass a dir scaled enough that state dominates (the 100× soak:
  * 10 M events / 1 M users). Run:
  *   sbt "Test/runMain graft.streaming.StateStoreAbProfile /tmp/graft-soak100 q_stream_sessionize,q_stream_tfidf default,rocksdb,default"
  */
object StateStoreAbProfile {
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gates = args.lift(1).getOrElse("q_stream_sessionize").split(",")
    // default order brackets rocksdb so warm-JVM drift shows up as a
    // default1 vs default2 spread instead of polluting the comparison
    val providers = args.lift(2).getOrElse("default,rocksdb,default")
      .split(",")
    val s = Sessions.local("spark.app.name" -> "statestore-ab")
    s.sparkContext.setLogLevel("ERROR")

    for (p <- providers; g <- gates) {
      if (p == "rocksdb") s.conf.set(ProviderKey, RocksDb)
      else s.conf.unset(ProviderKey)
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(g)(s, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[statestore-ab] gate=$g provider=$p rows=$n wall=$secs%.2f s")
    }
    s.stop()
  }
}
