package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}

/** Gates that share [[LayoutQueries.memo]] artifacts, run against a
  * private copy of the sf0.001 testdata: no gate's answer depends on
  * which gate ran before it, and no memoized artifact outlives a change
  * to the source it was derived from. */
class ArtifactMemoSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  /** Run `body` on a fresh, writable copy of the sf0.001 tables (its
    * own memo keys), deleted afterwards. */
  private def withSfCopy(body: String => Unit): Unit = {
    val d = tempDir("graft-memo-sf")
    try {
      Files.list(Paths.get(Sf)).forEach(p => Files.copy(p, d.resolve(p.getFileName)))
      body(d.toString)
    } finally FileUtils.deleteDirectory(d.toFile)
  }

  /** Replace `table.parquet` in `dir` with its rows that pass `keep`, as
    * one parquet file whose mtime is a day old — older than any marker
    * a build in this test can have written. */
  private def rewrite(dir: String, table: String, keep: Column): Unit = {
    val target = Paths.get(dir, s"$table.parquet")
    val tmp = tempDir("graft-memo-rw")
    try {
      spark.read.parquet(target.toString).filter(keep)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    } finally FileUtils.deleteDirectory(tmp.toFile)
    Files.setLastModifiedTime(target, FileTime.fromMillis(
      System.currentTimeMillis() - 24L * 3600 * 1000))
  }

  private def gate(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("q_stream_cluster_assign after q_cluster_append in one session: no vec_id counted twice") {
    withSfCopy { dir =>
      def rows(name: String): Seq[(Long, Long)] =
        gate(name, dir).select("vec_id", "cluster_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val append = rows("q_cluster_append")
      val stream = rows("q_stream_cluster_assign")
      assert(append.nonEmpty)
      assert(stream.size === stream.map(_._1).distinct.size,
             s"${stream.size - stream.map(_._1).distinct.size} vec_ids twice")
      assert(stream.sorted === append.sorted)
    }
  }

  test("eventsByDay serves the new events after events.parquet is replaced by an older file") {
    withSfCopy { dir =>
      val before = LayoutQueries.eventsByDay(spark, dir).count()
      rewrite(dir, "events", col("user_id") % 2 === 0)
      val expected = spark.read.parquet(s"$dir/events.parquet").count()
      assert(expected < before)
      assert(LayoutQueries.eventsByDay(spark, dir).count() === expected)
    }
  }

  for (name <- Seq("q_jsonl_files", "q_warc_files"))
    test(s"$name stages the new documents after documents.parquet is rewritten") {
      withSfCopy { dir =>
        assert(!gate(name, dir).filter(col("doc_id") % 2 =!= 0).isEmpty)
        rewrite(dir, "documents", col("doc_id") % 2 === 0)
        val after = gate(name, dir)
        assert(!after.isEmpty)
        assert(after.filter(col("doc_id") % 2 =!= 0).isEmpty,
               "staged files still hold documents that were removed")
      }
    }
}
