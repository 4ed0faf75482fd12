package graft.sources


import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** 100 TB layout posture (SURVEY.md §4.3, BASELINE north star): the same
  * declarative readers must exploit bucketed and partitioned physical
  * layouts — co-located joins without exchanges, partition pruning at the
  * scan. The fixtures are single-file parquet, so these properties are
  * proven here against written-out layouts. */
class LayoutSpec extends SparkSpec {

  test("bucketed co-located join plans with zero shuffle exchanges") {
    val dir = tempDir("graft-bucket").toString
    val lineitem = Tables.read(spark, "/root/testdata/sf0.001", "lineitem")
    val orders = Tables.read(spark, "/root/testdata/sf0.001", "orders")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_layout LOCATION '$dir'")
    lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_layout.lineitem_b")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_layout.orders_b")
    // disable auto-broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_layout.lineitem_b")
        .join(spark.table("graft_layout.orders_b"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // bucket-co-located join: no exchange below the join; the only
      // allowed shuffle is the final small groupBy on o_orderpriority
      assert(exchanges.length <= 1,
             s"expected bucketing to remove join shuffles, got:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() === 5)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partition pruning: a partition filter reaches the scan and prunes files") {
    val dir = tempDir("graft-part").toString
    Tables.read(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite")
      .partitionBy("o_year")
      .parquet(s"$dir/orders_p")
    val all = spark.read.parquet(s"$dir/orders_p")
    val years = all.select("o_year").distinct().count()
    assert(years > 1) // layout actually has multiple partitions
    val pruned = all.filter(col("o_year") === 1996)
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // the pruned scan must read strictly fewer partitions than exist
    val scan = scans.head
    assert(scan.metadata("PartitionFilters").contains("o_year"),
           s"partition filter not pushed: ${scan.metadata}")
    assert(pruned.count() > 0)
    assert(scan.selectedPartitions.partitionCount === 1,
           s"expected exactly the 1996 partition, got ${scan.selectedPartitions.partitionCount}")
  }

  test("compactParquet collapses a many-file layout into size-targeted files") {
    val dir = tempDir("graft-compact").toString
    val src = Tables.read(spark, "/root/testdata/sf0.001", "lineitem")
    src.repartition(24).write.mode("overwrite").parquet(s"$dir/scattered")
    val scattered = new java.io.File(s"$dir/scattered").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(scattered === 24)
    // target far above the corpus size → everything compacts to one file
    val (bytes, outFiles) =
      Layouts.compactParquet(spark, s"$dir/scattered", s"$dir/compact")
    assert(bytes > 0 && outFiles === 1)
    assert(spark.read.parquet(s"$dir/compact").count() === src.count())
    // a small target produces multiple size-bounded files
    val (_, outFiles2) = Layouts.compactParquet(
      spark, s"$dir/scattered", s"$dir/compact2", targetBytes = bytes / 4)
    assert(outFiles2 >= 4)
    assert(spark.read.parquet(s"$dir/compact2").count() === src.count())
  }

  test("compactParquet preserves a partitioned layout when given its partition columns") {
    val dir = tempDir("graft-compact-part").toString
    Tables.read(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .repartition(8)
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/by_year")
    val (_, files) = Layouts.compactParquet(
      spark, s"$dir/by_year", s"$dir/by_year_c", partitionCols = Seq("o_year"))
    // directory structure survives: year dirs exist, pruning still works
    val yearDirs = new java.io.File(s"$dir/by_year_c").listFiles()
      .filter(_.getName.startsWith("o_year=")).map(_.getName).toSet
    assert(yearDirs.size > 1)
    val all = spark.read.parquet(s"$dir/by_year_c")
    assert(all.count() ===
      spark.read.parquet(s"$dir/by_year").count())
    assert(files <= yearDirs.size * 2) // clustered writers, no task-x-partition blowup
    val pruned = all.filter(col("o_year") === 1996)
    val scans = graft.PlanAudit.flatten(pruned.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.head.selectedPartitions.partitionCount === 1)
  }

  test("q_partition_prune reads exactly the 7 selected day partitions of 30") {
    val df = SparkEntry.queries("q_partition_prune")(spark, "/root/testdata/sf0.001")
    assert(df.collect().length === 7) // one row per day of the first week
    // AQE hides materialized stages from collect() — use the shared
    // flattener (graft.PlanAudit.flatten) every plan assertion goes through
    val scans = graft.PlanAudit.flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no file scan found:\n${df.queryExecution.executedPlan}")
    val scan = scans.head
    assert(scan.metadata("PartitionFilters").contains("day"),
           s"day filter not a partition filter: ${scan.metadata}")
    assert(scan.selectedPartitions.partitionCount === 7,
           s"expected 7 pruned day partitions, got ${scan.selectedPartitions.partitionCount}")
  }
}
