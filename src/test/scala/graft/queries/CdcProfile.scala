package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions

/** Dev profiling harness (test scope, not shipped): times the CDC span
  * family in WRITE mode — full-column materialization, the shape Verify
  * runs — because count-mode prunes the reassembly and hid the
  * alias-chain inlining blowup this caught (127 s batch / 105 s
  * incremental before the chunk-frame checkpoints; ~2 s / ~1 s after —
  * see spanDedupCdc / spanDedupCdcAgainstCorpus scaladoc). Run:
  *   SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.queries.CdcProfile /root/testdata/sf0.01"
  */
object CdcProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val s = Sessions.local()
    s.sparkContext.setLogLevel("ERROR")
    def t(tag: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val out = java.nio.file.Files.createTempDirectory("cdcprof").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      println(f"[cdc-profile] $tag wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // `synth:N:T` instead of a dir: N docs of T tokens each (20 % of
    // them near-duplicates of earlier docs) — the LONG-document
    // pathological shape for the unpinned/letBound reassembly paths:
    // any per-kept-element re-evaluation regression scales T× here
    // instead of hiding in short-doc fixtures.
    val d = dir match {
      case s"synth:${n}:${tk}" =>
        import s.implicits._
        val toks = tk.toInt
        s.range(n.toLong)
          .select(col("id").as("doc_id"),
                  concat_ws(" ",
                    (0 until toks).map(i =>
                      concat(lit(s"t$i"),
                             (col("id") % 5) * lit(i % 97))): _*).as("text"))
          .repartition(col("doc_id"))
      case _ => DedupQueries.docsDistributed(s, dir)
    }
    t("cdcChunks-only")(DedupQueries.cdcChunks(d))
    t("spanDedupCdc")(DedupQueries.spanDedupCdc(d))
    t("spanDedup-fixed")(DedupQueries.spanDedup(d))
    t("substrDedup")(DedupQueries.substrDedup(d))
    t("cdc-incremental")(DedupQueries.spanDedupCdcAgainstCorpus(
      d.filter(col("doc_id") % 5 =!= 4), d.filter(col("doc_id") % 5 === 4)))
    s.stop()
  }
}
