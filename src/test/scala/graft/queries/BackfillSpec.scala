package graft.queries

import java.nio.file.{Files, Path => JPath, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dynamic partition overwrite semantics behind q_backfill: targeted
  * partitions are replaced, untouched partitions' files stay
  * byte-identical, and the static-overwrite contrast (whole-table
  * delete) shows the option is load-bearing. */
class BackfillSpec extends SparkSpec {
  import spark.implicits._

  private def writeDaily(df: DataFrame, path: String, dynamic: Boolean): Unit = {
    val w = df.repartition(col("day")).write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("day").parquet(path)
  }

  private def files(dir: String, day: String): Map[String, (Long, Long)] = {
    val d = Paths.get(dir, s"day=$day")
    if (!Files.exists(d)) Map.empty
    else Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
  }

  private def table(n: Int => Long) =
    (1 to 4).map(d => (f"2024-01-0$d", n(d))).toDF("day", "v")

  test("dynamic overwrite replaces targeted partitions and leaves others' files alone") {
    val dir = tempDir("graft-backfill").toString
    writeDaily(table(d => d.toLong * 10), dir, dynamic = false)
    val before = files(dir, "2024-01-01")
    assert(before.nonEmpty)
    // backfill days 3-4 with corrected values
    writeDaily(table(d => d.toLong * 100).filter($"day" >= "2024-01-03"),
               dir, dynamic = true)
    assert(files(dir, "2024-01-01") === before,
      "untouched partition files must be byte-and-mtime identical")
    val got = spark.read.parquet(dir).as[(Long, String)].collect()
      .map { case (v, day) => day -> v }.toMap
    assert(got === Map("2024-01-01" -> 10L, "2024-01-02" -> 20L,
                       "2024-01-03" -> 300L, "2024-01-04" -> 400L))
  }

  test("static overwrite is the failure mode: it deletes the untouched partitions") {
    val dir = tempDir("graft-backfill-static").toString
    writeDaily(table(d => d.toLong * 10), dir, dynamic = false)
    writeDaily(table(d => d.toLong * 100).filter($"day" >= "2024-01-03"),
               dir, dynamic = false)
    val got = spark.read.parquet(dir).as[(Long, String)].collect()
      .map { case (v, day) => day -> v }.toMap
    assert(got === Map("2024-01-03" -> 300L, "2024-01-04" -> 400L),
      "static overwrite replaces the WHOLE table - days 1-2 are gone")
  }
}
