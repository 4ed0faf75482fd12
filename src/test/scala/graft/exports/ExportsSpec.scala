package graft.exports

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.ingest.{FeedSynth, HitParser}
import graft.session.Sessionize
import graft.sources.Tables

/** The three sharded CSV exports (reference K1, `main.py:229-234`) written
  * and read back — sink glue on top of the proven frames. */
class ExportsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val parsed =
    HitParser.parse(FeedSynth.synthLines(
      Tables.events(spark, "/root/testdata/sf0.001"))).cache()

  /** Hits whose fields exercise CSV quoting: commas, `"`, empty fields,
    * a leading blank and non-ASCII text. User `u_1` has two visits, `w_2`
    * one (800 s apart). Not cached. */
  private def tricky: DataFrame = HitParser.parse(Seq(
    "1000\tu\t1\tTRK,1\t;SKU,1\t1,2\tsay \"hi\", then go\tsrv\t\tscv",
    "1100\tu\t1\t\t\t\tcafé naïve\tsrv\tibm\t",
    "5000\tu\t1\t TRK\t;SKU2;x\t204\tplain\ts,rv\t\"ibm\"\tscv",
    "1000\tw\t2\t\t\t11\tüñí,\"\t\tibm\tscv",
    "1800\tw\t2\ttrk\t\t\t日本語\tsrv\t\t").toDF("value"))

  private def lines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq.sorted

  /** Writes `text` to `file` gzipped, in `charset`. */
  private def gzip(file: String, text: String, charset: String): Unit = {
    val w = new OutputStreamWriter(new GZIPOutputStream(new FileOutputStream(file)), charset)
    try w.write(text) finally w.close()
  }

  test("writeAll: three sharded CSV dirs, row counts consistent") {
    val dir = tempDir("graft-exports").toString
    Exports.writeAll(parsed, dir)
    val hits = spark.read.csv(s"$dir/hits")
    val visits = spark.read.csv(s"$dir/visits")
    val visitors = spark.read.csv(s"$dir/visitors")
    val n = parsed.count()
    assert(hits.count() === n)      // one line per hit
    assert(visitors.count() === n)  // reference parity: dupes retained
    assert(visits.count() > 0 && visits.count() <= n)
    assert(hits.columns.length === 12)
    assert(visits.columns.length === 4)
    assert(visitors.columns.length === 3)
  }

  test("writeAll's exports equal the per-export frames written as CSV, line for line") {
    val all = tempDir("graft-exports-all").toString
    val ref = tempDir("graft-exports-ref").toString
    Exports.writeAll(tricky, all)
    Exports.hitsFrame(tricky).write.csv(s"$ref/hits")
    Exports.visitsFrame(tricky).write.csv(s"$ref/visits")
    Exports.visitorsFrame(tricky).write.csv(s"$ref/visitors")
    Exports.Names.foreach(e => assert(lines(s"$all/$e") === lines(s"$ref/$e"), e))
    assert(lines(s"$all/hits").size === 5)
    assert(lines(s"$all/visits").size === 3)
    // the fixture reaches the quoting paths: an embedded quote and comma
    assert(lines(s"$all/hits").exists(_.contains(""""say \"hi\", then go"""")))
    // Beam's layout: a _SUCCESS marker and a contiguous set of
    // <e>.csv-SSSSS-of-NNNNN shards
    Exports.Names.foreach { e =>
      val names = new File(s"$all/$e").list().filterNot(_.startsWith(".")).sorted.toSeq
      val n = names.size - 1
      assert(n > 0 && names === "_SUCCESS" +: (0 until n).map(i => f"$e.csv-$i%05d-of-$n%05d"),
             names.mkString(","))
    }
  }

  test("visits frame: one row per session, equal to the per-session groupBy") {
    val byGroup = Sessionize.withSessionIds(parsed, gapUs = 1800L, tsUsCol = "ts")
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("visit_start"), max("ts").as("visit_end"))
      .select(Sessionize.visitKey(col("user_id"), col("visit_start")).as("visit_key"),
              col("user_id"), col("visit_start"), col("visit_end"))
    val visits = Exports.visitsFrame(parsed)
    assert(visits.count() === byGroup.count())
    assert(visits.exceptAll(byGroup).isEmpty)
    assert(byGroup.exceptAll(visits).isEmpty)
  }

  test("writeAll runs one write job and caches nothing") {
    val sc = spark.sparkContext
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val writes = new LinkedBlockingQueue[String]()
    val markers = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.add(s.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(markers.add)
    }
    val dir = tempDir("graft-exports-onejob").toString
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    try {
      Exports.writeAll(tricky, dir)
      assert(cacheManager.isEmpty)
      // the bus delivers in order: once the marker job is seen, so is
      // every execution that started before it
      sc.setJobGroup("exports-onejob-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markers.poll(60, TimeUnit.SECONDS) === "exports-onejob-end")
    } finally sc.removeSparkListener(listener)
    assert(writes.size === 1)
    assert(!writes.peek().contains("InMemory"), writes.peek())
  }

  test("writeAll sorts each user's hits once and has no per-session window (executed plan)") {
    val plans = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Exports.writeAll(tricky, tempDir("graft-exports-plan").toString)
    finally spark.listenerManager.unregister(listener)
    val plan = plans.poll(60, TimeUnit.SECONDS)
    assert(plan != null, "no write plan seen")
    def leading(s: SortExec): String = s.sortOrder.head match {
      case SortOrder(a: Attribute, _, _, _) => a.name
      case o => o.sql
    }
    val sorts = collect(plan) { case s: SortExec => leading(s) }
    assert(sorts.sorted === Seq("export", "user_id"), plan)
    val bySession = collect(plan) {
      case w: WindowExec if w.partitionSpec.exists(_.references.exists(_.name == "session_id")) => w
    }
    assert(bySession.isEmpty, plan)
  }

  test("a job failing inside writeAll keeps the previous exports and leaves no staging") {
    val dir = tempDir("graft-exports-fail").toString
    Exports.writeAll(tricky, dir)
    val before = Exports.Names.map(e => lines(s"$dir/$e"))
    val poisoned = tricky.withColumn("page",
      when(col("ts") > 0, raise_error(lit("injected export failure"))).otherwise(col("page")))
    val e = intercept[Exception](Exports.writeAll(poisoned, dir))
    assert(e.toString.contains("injected export failure") ||
           Option(e.getCause).exists(_.toString.contains("injected export failure")), e)
    assert(new File(dir).list().filterNot(_.startsWith(".")).toSet === Exports.Names.toSet)
    assert(Exports.Names.map(e => lines(s"$dir/$e")) === before)
  }

  test("visits frame: key joins back to hits frame (the relational re-join the exports serve)") {
    val visits = Exports.visitsFrame(parsed)
    val hits = Exports.hitsFrame(parsed)
    // every hit's visit_key exists in visits
    val orphans = hits.join(visits.select("visit_key"), Seq("visit_key"), "left_anti")
    assert(orphans.count() === 0)
    // visit bounds bracket their hits
    val joined = hits.select(col("visit_key"), col("ts"))
      .join(visits, "visit_key")
    assert(joined.filter(col("ts") < col("visit_start") ||
                         col("ts") > col("visit_end")).count() === 0)
  }

  test("transcodeFeed: gzip ISO-8859-1 in, gzip UTF-8 out (encoding_update.py parity)") {
    import java.util.zip.GZIPInputStream
    val in = tempDir("graft-transcode-in").toString
    val out = s"${tempDir("graft-transcode-out")}/feeds"
    val line = "1000\tu\tv\tTRK\t\t2\tcafé\tsrv\ti\ts"
    gzip(s"$in/feed.tsv.gz", line, "ISO-8859-1")
    Exports.transcodeFeed(spark, s"$in/*.tsv.gz", out)
    // the produced artifact must be gzip whose UNCOMPRESSED BYTES are UTF-8
    val gz = new java.io.File(out).listFiles().filter(_.getName.endsWith(".gz"))
    assert(gz.nonEmpty)
    val bytes = gz.flatMap { f =>
      val s = new GZIPInputStream(new java.io.FileInputStream(f))
      try Iterator.continually(s.read()).takeWhile(_ >= 0).map(_.toByte).toArray
      finally s.close()
    }
    assert(new String(bytes, "UTF-8").trim === line) // é is two UTF-8 bytes now
    // and the engine reads it back with no encoding option at all
    assert(Tables.rawFeed(spark, s"$out/*.gz").collect().map(_.getString(0)) === Array(line))
  }

  test("transcodeFeed fails on sentinel-tainted input and deletes the partial output") {
    val in = tempDir("graft-taint-in").toString
    val out = s"${tempDir("graft-taint-out")}/feeds"
    gzip(s"$in/feed.tsv.gz", "good\tline\nbad\u0001line", "UTF-8")
    val e = intercept[IllegalStateException](
      Exports.transcodeFeed(spark, s"$in/*.tsv.gz", out))
    assert(e.getMessage.contains("1 input line"))
    assert(!new java.io.File(out).exists()) // nothing published
  }

  test("a tainted transcodeFeed keeps the previous output byte-identical and leaves no staging") {
    val good = tempDir("graft-taint-keep-good").toString
    val tainted = tempDir("graft-taint-keep-tainted").toString
    val parent = tempDir("graft-taint-keep-out")
    val out = s"$parent/feeds"
    gzip(s"$good/feed.tsv.gz", "1000\tu\tv\tTRK\t\t2\tcafé\tsrv\ti\ts", "ISO-8859-1")
    gzip(s"$tainted/feed.tsv.gz", "good\tline\nbad\u0001line", "ISO-8859-1")
    Exports.transcodeFeed(spark, s"$good/*.tsv.gz", out)
    def snapshot: Map[String, Seq[Byte]] = new File(out).listFiles()
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val before = snapshot
    assert(before.keys.exists(_.endsWith(".gz")))

    intercept[IllegalStateException](Exports.transcodeFeed(spark, s"$tainted/*.tsv.gz", out))
    assert(snapshot === before)
    assert(parent.toFile.list().toSeq === Seq("feeds"))
  }

  test("beamShardNames renames part-files to <prefix>-SSSSS-of-NNNNN") {
    val dir = tempDir("graft-shardnames").toString
    Exports.visitsFrame(parsed).repartition(3)
      .write.mode("overwrite").csv(s"$dir/visits")
    val names = Exports.beamShardNames(spark, s"$dir/visits", "visits.csv")
    assert(names === (0 until 3).map(i => f"visits.csv-$i%05d-of-00003"))
    val listed = new java.io.File(s"$dir/visits").listFiles().map(_.getName)
    assert(names.forall(listed.contains))
    assert(!listed.exists(_.startsWith("part-")))
    // content survives the rename untouched
    assert(spark.read.csv(s"$dir/visits/visits.csv-*").count() ===
      Exports.visitsFrame(parsed).count())
  }

  test("beamShardNames orders shards numerically, not lexicographically") {
    val dir = tempDir("graft-shardnum").toString
    // "part-100000" < "part-99999" as strings — the shard index must
    // follow the numeric task id regardless
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/part-99999-uuid.csv"), "low-task")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$dir/part-100000-uuid.csv"), "high-task")
    val names = Exports.beamShardNames(spark, dir, "x.csv")
    assert(names === Seq("x.csv-00000-of-00002", "x.csv-00001-of-00002"))
    // the lower task id must have become shard 0
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$dir/x.csv-00000-of-00002")) === "low-task")
  }
}
