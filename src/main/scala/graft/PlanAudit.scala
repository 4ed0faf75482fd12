package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Dev tool: writes PLANS.md — a per-query physical-plan audit (exchange
  * count, join strategies, scan pushdown, codegen coverage) backing the
  * scale claims in SURVEY.md §8. Run: `sbt "runMain graft.PlanAudit"`. */
object PlanAudit {

  /** Flatten a physical plan INCLUDING the nodes AQE hides: `collect()`
    * does not descend into `AdaptiveSparkPlanExec` or `QueryStageExec`
    * wrappers (their materialized plan hangs off a field, not children),
    * so every plan assertion in this repo goes through here — the one
    * place to fix when a Spark upgrade changes the wrapper nesting. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
      case _ => Seq.empty
    }
    Seq(p) ++ nested ++ p.children.flatMap(flatten) ++
      p.subqueries.flatMap(flatten)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"

    def audit(root: SparkPlan): (Int, Int, Seq[String], Boolean, Int) = {
      val all = flatten(root)
      val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
      val bcasts = all.count(_.isInstanceOf[BroadcastExchangeExec])
      val joins = all.collect {
        case _: BroadcastHashJoinExec => "BHJ"
        case _: SortMergeJoinExec => "SMJ"
        case _: ShuffledHashJoinExec => "SHJ"
        case _: BroadcastNestedLoopJoinExec => "BNLJ"
      }
      val pushed = all.collect { case f: FileSourceScanExec => f }
        .exists(_.metadata.get("PushedFilters").exists(s => s != "[]"))
      val wsc = all.count(_.isInstanceOf[WholeStageCodegenExec])
      (shuffles, bcasts, joins, pushed, wsc)
    }

    val rows = SparkEntry.allQueries.map { q =>
      val df = q.fn(spark, dir)
      // drive the df's OWN QueryExecution (count() would plan a different
      // one) so AQE finalizes stages and inserts per-stage codegen
      df.collect()
      val qe = df.queryExecution
      val plan = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val (sh, bc, joins, pushed, wsc) = audit(plan)
      val joinStr = if (joins.isEmpty) "—" else joins.mkString("+")
      s"| ${q.name} | $sh | $bc | $joinStr | ${if (pushed) "yes" else "—"} | $wsc |"
    }

    val md =
      s"""# PLANS — physical-plan audit (generated by `graft.PlanAudit`, sf0.01, final AQE plans post-execution)
         |
         |Per query: shuffle-exchange count (the scale-critical number — each is a
         |full repartition of its input), broadcast exchanges (dimension/query-side
         |broadcasts that AVOID shuffling the big side), join strategies
         |(BHJ=broadcast hash, SMJ=sort-merge, BNLJ=broadcast nested loop — BNLJ
         |appears only in the deliberate brute-force ANN baseline and in
         |one-row-statistics broadcast cross joins, e.g. q_lm_score_smooth's
         |vocabulary scalar), whether any parquet scan has pushed filters, and
         |whole-stage-codegen region count.
         |
         |Shuffle counts include deliberate pre-fanout `repartition()` balancing
         |exchanges (AQE-coalescible; see DedupQueries.docsDistributed scaladoc).
         |
         |Caveat: queries that materialize via eager `localCheckpoint` at
         |construction time (q_ngram_jaccard's shingle sets, q_dedup_clusters'
         |pair list + driver union-find (or, beyond broadcast scale,
         |propagation rounds), q_sim_search_ivf's Lloyd-trained cell ranking,
         |q_global_rank's pinned range partitioning — its range exchange runs
         |inside the hidden materialization job) run those jobs BEFORE the
         |audited final plan — their rows count only the post-checkpoint
         |shuffles; the materialization work (incl. the LSH chain's scan and
         |repartition) is documented in the query scaladoc, not in this table.
         |
         || query | shuffles | broadcasts | joins | pushed filters | codegen regions |
         ||---|---|---|---|---|---|""".stripMargin +
        // outside stripMargin: table rows START with '|', which stripMargin
        // would otherwise strip as a margin marker
        rows.mkString("\n", "\n", "\n")
    Files.writeString(Paths.get("PLANS.md"), md)
    println(s"[planaudit] wrote PLANS.md (${rows.size} queries)")
    spark.stop()
  }
}
