package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions

/** Dev profiling harness (test scope, not shipped): measures AQE's
  * runtime skew-join split against manual salting on a power-law join,
  * at DEFAULT AQE thresholds (the hot partition is sized to exceed the
  * stock 256 MB detection bound — no test-scaled confs), so the
  * 100×-scale operator choice is evidence-based. Run:
  *   sbt "Test/runMain graft.queries.SkewJoinProfile"
  * Results are pinned in BASELINE.md ("AQE skew-join vs manual salting").
  */
object SkewJoinProfile {
  def main(args: Array[String]): Unit = {
    val s = Sessions.local("spark.app.name" -> "skew-join-profile")
    s.sparkContext.setLogLevel("ERROR")

    val nFact = args.headOption.map(_.toLong).getOrElse(20000000L)
    // 50% of the fact table on one key; ~100 B/row of incompressible
    // payload puts the hot shuffle partition at ~1 GB — far over the
    // default 256 MB skew threshold
    val fact = s.range(nFact).select(
      col("id").as("l_orderkey"),
      when(col("id") % 2 === 0, 1L).otherwise(col("id") % 10000 + 2L)
        .as("l_partkey"),
      (col("id") % 97).cast("double").as("l_extendedprice"),
      sha2(col("id").cast("string"), 256).as("pad"))
    val dim = s.range(10001).select(
      col("id").as("p_partkey"),
      concat(lit("Brand"), col("id") % 500).as("p_brand"))

    def plain(): DataFrame = fact
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
           sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"),
           sum(length(col("pad"))).as("padlen"))

    def saltedDf(): DataFrame = {
      val salted = fact.select(col("l_partkey"), col("l_extendedprice"),
                               col("pad"),
                               pmod(col("l_orderkey"), lit(16)).as("salt"))
      val repl = dim.select(col("p_partkey"), col("p_brand"),
                            explode(sequence(lit(0), lit(15))).as("rsalt"))
      salted.join(repl, col("l_partkey") === col("p_partkey") &&
                        col("salt") === col("rsalt"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
             sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"),
             sum(length(col("pad"))).as("padlen"))
    }

    def run(name: String, skewOn: Boolean)(mk: () => DataFrame): Unit = {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      sys.env.get("SKEWPROF_THRESHOLD").foreach { t =>
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", t)
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", t)
      }
      (1 to 2).foreach { i =>
        s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
        val df = mk()
        val t0 = System.nanoTime()
        // collect THIS Dataset (≤500 brand rows): count() would build a
        // separate execution and leave df's adaptive plan unfinalized
        df.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val skewed = df.queryExecution.executedPlan.toString.contains("skew=true")
        println(f"[skewprof] $name%-28s run$i ${sec}%7.2fs skewSplit=$skewed")
        if (sys.env.contains("SKEWPROF_EXPLAIN") && i == 2)
          println(df.queryExecution.executedPlan.toString)
      }
    }

    run("plain SMJ, skewJoin OFF", skewOn = false)(plain _)
    run("plain SMJ, skewJoin ON", skewOn = true)(plain _)
    run("salted r=16, skewJoin ON", skewOn = true)(saltedDf _)
    s.stop()
  }
}
