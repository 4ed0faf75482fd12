package graft

/** Cold-floor instrumentation (dev tooling, round-22): for each named
  * BATCH gate, split the first-run cost into its phases and report the
  * generated-code statistics that decide whether the JIT can even
  * compile the hot loops:
  *
  *   plan_s   — analysis + optimization + physical planning
  *             (`queryExecution.executedPlan` forced)
  *   cold_s   — first `count()` (codegen source gen + janino compile +
  *             JIT warmup + execution)
  *   warm_s   — second `count()` (codegen cache hit; execution only)
  *   subtree stats — per WholeStageCodegen unit: generated source bytes
  *             and max compiled METHOD bytecode size. > 8000 bytes means
  *             HotSpot refuses to JIT that method (-XX:HugeMethodLimit)
  *             and the hot loop runs INTERPRETED — cold and warm; >
  *             `spark.sql.codegen.hugeMethodLimit` (65535) makes Spark
  *             fall back to interpreted plan execution entirely.
  *
  *   CODEGEN_QUERIES=q_a,q_b sbt "runMain graft.CodegenAudit"
  */
object CodegenAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("CODEGEN_QUERIES", "q_admit_funnel")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    // CODEGEN_AQE=false exposes WholeStageCodegen units in the
    // pre-execution plan (AdaptiveSparkPlan hides them until stages
    // materialize) — stats-only mode; timings keep the default.
    val spark = Sessions.local(
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("CODEGEN_AQE", "true"))
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val ruleTime = sys.env.get("CODEGEN_RULES").exists(_.toBoolean)
    for (n <- names) {
      System.gc()
      if (ruleTime)
        org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val tFn = System.nanoTime()
      val plan = df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      if (ruleTime) {
        // top Catalyst rules by cumulative time for THIS gate's planning
        val dump = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
        dump.linesIterator
          .filter(_.contains("org.apache.spark"))
          .map(_.trim).toSeq.take(12)
          .foreach(l => println(s"[codegen-audit]   rule $l"))
      }
      val cm = org.apache.spark.metrics.source.CodegenMetrics
      val (nc0, tc0) = (cm.METRIC_COMPILATION_TIME.getCount,
                        cm.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)
      df.count()
      val t2 = System.nanoTime()
      val (nc1, tc1) = (cm.METRIC_COMPILATION_TIME.getCount,
                        cm.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum)
      df.count()
      val t3 = System.nanoTime()
      println(f"[codegen-audit] $n%-26s fn=${(tFn - t0) / 1e9}%7.3f " +
        f"opt=${(t1 - tFn) / 1e9}%7.3f " +
        f"cold=${(t2 - t1) / 1e9}%7.3f warm=${(t3 - t2) / 1e9}%7.3f s " +
        s"janinoUnits=${nc1 - nc0} janinoMs=${tc1 - tc0}")
      try {
        val units = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        units.zipWithIndex.foreach { case ((_, code, stats), i) =>
          println(f"[codegen-audit]   unit=$i%2d src=${code.length}%7d B " +
            s"maxMethod=${stats.maxMethodCodeSize} B " +
            s"constPool=${stats.maxConstPoolSize} inner=${stats.numInnerClasses}")
        }
      } catch {
        case e: Throwable =>
          println(s"[codegen-audit]   codegen stats unavailable: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
