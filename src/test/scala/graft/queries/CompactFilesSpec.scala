package graft.queries

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Compaction contracts: file-count arithmetic from measured bytes,
  * actual coalescing on disk, and reader-invisible content. */
class CompactFilesSpec extends SparkSpec {
  import spark.implicits._

  test("file count is ceil(bytes/target), files land, content survives byte-exact") {
    val dir = tempDir("graft-compact").toString
    // a deliberately fragmented table: 20 files for ~2k rows
    val d = (1L to 2000L).map(i => (i, s"row $i payload ${"x" * 50}"))
      .toDF("id", "payload")
    d.repartition(20).write.mode("overwrite").parquet(s"$dir/frag")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new Path(s"$dir/frag")).getLength
    val target = 64L * 1024
    val expectFiles = math.max(1L, (bytes + target - 1) / target).toInt
    val n = LayoutQueries.compactTo(
      spark.read.parquet(s"$dir/frag"), s"$dir/frag", s"$dir/out", target)
    assert(n === expectFiles)
    val outFiles = fs.listStatus(new Path(s"$dir/out"))
      .count(f => f.getPath.getName.endsWith(".parquet"))
    assert(outFiles === n)
    assert(outFiles < 20, "compaction must actually reduce the file count")
    // reader-invisible: same rows, nothing lost or duplicated
    val a = spark.read.parquet(s"$dir/frag").as[(Long, String)].collect().sorted
    val b = spark.read.parquet(s"$dir/out").as[(Long, String)].collect().sorted
    assert(a.toSeq === b.toSeq)
  }

  test("tiny input compacts to exactly one file") {
    val dir = tempDir("graft-compact1").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(5).write.mode("overwrite").parquet(s"$dir/frag")
    val n = LayoutQueries.compactTo(
      spark.read.parquet(s"$dir/frag"), s"$dir/frag", s"$dir/out",
      1024L * 1024 * 1024)
    assert(n === 1)
  }
}
