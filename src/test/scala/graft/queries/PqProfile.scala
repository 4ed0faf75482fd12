package graft.queries

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.sources.Tables

/** Dev profiling harness (test scope, not shipped): times the IVF-PQ
  * chain stage by stage on a soak corpus, so scale work is attributed
  * to a stage before it is "optimized". Run:
  *   sbt "Test/runMain graft.queries.PqProfile /tmp/graft-soak-vec1m"
  */
object PqProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-soak")
    val s = Sessions.local("spark.app.name" -> "pq-profile")
    s.sparkContext.setLogLevel("ERROR")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[pq-profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val e = SimQueries.quantizedFrame(s, dir)
    t("corpus count (scan+quant)")(e.count())
    val cents = t("ivfTrain+ckpt")(SimQueries.ivfTrain(e).localCheckpoint())
    t("ivfAssign1 (corpus cells)")(
      SimQueries.ivfAssign1(e, cents).select(col("vec_id"), col("c_id").as("cell")).count())
    val sub = PqQueries.subspaces(e)
    t("subspaces count")(sub.count())
    val cb = t("pqCodebook+ckpt")(PqQueries.pqCodebook(e).localCheckpoint())
    t("pqCodes (encode)")(PqQueries.pqCodes(sub, cb).count())
    t("pqQueryTables")(PqQueries.pqQueryTables(
      sub, cb,
      e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"))).count())
    t("full q_ivfpq_search")(PqQueries.qIvfPqSearch.fn(s, dir).count())
    t("full q_ivfpq_search again")(PqQueries.qIvfPqSearch.fn(s, dir).count())
    s.stop()
  }
}
