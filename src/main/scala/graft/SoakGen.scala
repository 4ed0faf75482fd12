package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.DocSynth

/**
 * Scale-soak corpus generator: writes a [[graft.sources.DocSynth]]
 * documents+embeddings dir at 10–50× the largest driver testdata SF, so
 * `graft.Bench` (with `SPARK_GRAFT_ONLY`) can run the dedup /
 * decontamination / curation chains and the IVF build/probe at a scale
 * where the growth regimes — the connected-components propagation loop,
 * LSH pair-stage growth, the capped IVF stride — actually engage.
 *
 * Usage: `runMain graft.SoakGen <outDir> [nDocs nFams famSize nVecs]`
 * Defaults: 50 000 docs, 100 families × 150 members (≈1.1 M candidate
 * pairs — past the 2²⁰ driver union-find bound), 50 000 vectors (past
 * the 51 200-vector boundary where the IVF stride cap engages).
 *
 * FULL mode — `runMain graft.SoakGen <outDir> full [baseDir mult]` —
 * builds a COMPLETE testdata directory at `mult`× the base SF, so the
 * whole 200+-query surface (TPC-H, events/sessionization, TSV-feed,
 * document, and embedding families) benches above sf0.1:
 *  - dimension tables (`region nation customer supplier part`) copy
 *    verbatim — scaling grows FACTS over stable dims, which also keeps
 *    every fact→dim FK valid by construction;
 *  - `orders`/`lineitem` replicate `mult`× with `o_orderkey`/
 *    `l_orderkey` shifted by one shared span per replica (the
 *    order→line join stays exact; cust/part/supp keys untouched);
 *  - `events` replicates with `event_id` AND `user_id` shifted —
 *    disjoint users, so sessions/funnels/retention scale linearly and
 *    never merge across replicas (the TSV-feed gates derive from
 *    events, so they scale with it);
 *  - `documents`/`embeddings` come from [[DocSynth]] at `mult`× the
 *    base counts — replicating REAL docs would hand the dedup family
 *    `mult` exact copies of everything (a degenerate corpus), so the
 *    synthetic family structure is the honest 10× for that surface.
 */
object SoakGen {

  /** Replicate a fact frame `mult`× shifting each column in `shifted`
    * by `replica × span(col)` — spans are max+1 of the BASE frame, so
    * replica key ranges are disjoint and join-consistent wherever two
    * tables shift by the same span. */
  private def replicate(df: DataFrame, mult: Int,
                        shifted: Map[String, Long]): DataFrame = {
    val reps = df.sparkSession.range(mult).select(col("id").as("__rep"))
    val crossed = df.crossJoin(broadcast(reps))
    shifted.foldLeft(crossed) { case (d, (c, span)) =>
      d.withColumn(c, col(c) + col("__rep") * span)
    }.drop("__rep")
  }

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-soak")
    val full = args.length > 1 && args(1) == "full"
    val nDocs = if (!full && args.length > 1) args(1).toLong else 50000L
    val nFams = if (!full && args.length > 2) args(2).toInt else 100
    val famSize = if (!full && args.length > 3) args(3).toInt else 150
    val nVecs = if (!full && args.length > 4) args(4).toLong else 50000L
    val spark = Sessions.local()
    if (full) {
      val base = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      val mult = if (args.length > 3) args(3).toInt else 10
      def rd(t: String) = spark.read.parquet(s"$base/$t.parquet")
      def wr(df: DataFrame, t: String): Unit =
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      for (t <- Seq("region", "nation", "customer", "supplier", "part"))
        wr(rd(t), t)
      val okSpan = maxOf(rd("orders"), "o_orderkey")
      wr(replicate(rd("orders"), mult, Map("o_orderkey" -> okSpan)), "orders")
      wr(replicate(rd("lineitem"), mult, Map("l_orderkey" -> okSpan)),
         "lineitem")
      val ev = rd("events")
      wr(replicate(ev, mult, Map("event_id" -> maxOf(ev, "event_id"),
                                 "user_id" -> maxOf(ev, "user_id"))),
         "events")
      val baseDocs = rd("documents").count()
      val baseVecs = rd("embeddings").count()
      DocSynth.writeCorpus(spark, out, baseDocs * mult, nFams, famSize,
                           baseVecs * mult)
      println(s"""{"soak_dir":"$out","mode":"full","base":"$base","mult":$mult,"n_docs":${baseDocs * mult},"n_vecs":${baseVecs * mult}}""")
      spark.stop()
      return
    }
    DocSynth.writeCorpus(spark, out, nDocs, nFams, famSize, nVecs)
    println(s"""{"soak_dir":"$out","n_docs":$nDocs,"n_fams":$nFams,"fam_size":$famSize,"n_vecs":$nVecs}""")
    spark.stop()
  }
}
