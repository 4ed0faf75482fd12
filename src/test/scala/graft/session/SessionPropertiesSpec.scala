package graft.session

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.exports.Exports
import graft.ingest.HitParser
import graft.model.Schemas

/** Property-based session invariants (SURVEY.md §5): generated hit streams
  * must satisfy the session axioms under BOTH formulations, and the result
  * must be insensitive to input row order. Generators are scalacheck `Gen`
  * driven by fixed seeds (the scalatest↔scalacheck bridge artifact isn't in
  * the offline cache, so sampling is explicit — and deterministic, which a
  * CI run prefers anyway). */
class SessionPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val gapUs = 1800L * 1000000L

  private val streamGen: Gen[List[(String, Long)]] = for {
    nUsers <- Gen.choose(1, 4)
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0, nUsers - 1)
      // ts in seconds over a ~3-day range so gaps straddle 1800 s
      ts <- Gen.choose(0L, 250000L)
    } yield (s"u$u", ts * 1000000L))
  } yield rows

  private def sample(seed: Long): List[(String, Long)] =
    streamGen.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  private def toDf(rows: List[(String, Long)]) =
    rows.toDF("user_id", "ts_us")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))

  test("every hit lands in exactly one session; min/max bracket; gap bounds hold") {
    for (seed <- 1L to 15L) {
      val rows = sample(seed)
      if (rows.nonEmpty) {
        val withSid = Sessionize.withSessionIds(toDf(rows)).collect()
        assert(withSid.length === rows.length, s"seed=$seed: no hit lost or duplicated")
        val bySession = withSid.groupBy(r =>
          (r.getAs[String]("user_id"), r.getAs[Long]("session_id")))
        for ((_, hits) <- bySession) {
          val ts = hits.map(_.getAs[Long]("ts_us")).sorted
          val vs = hits.head.getAs[Long]("visit_start_us")
          assert(vs === ts.min, s"seed=$seed: visit_start = min(ts)")
          ts.zip(ts.tail).foreach { case (a, b) =>
            assert(b - a < gapUs, s"seed=$seed: intra-session gap < timeout")
          }
        }
        for ((_, g) <- withSid.groupBy(_.getAs[String]("user_id"))) {
          val spans = g.groupBy(_.getAs[Long]("session_id")).toSeq
            .map { case (_, hs) =>
              val t = hs.map(_.getAs[Long]("ts_us")); (t.min, t.max)
            }.sortBy(_._1)
          spans.zip(spans.tail).foreach { case ((_, e1), (s2, _)) =>
            assert(s2 - e1 >= gapUs, s"seed=$seed: sessions separated by >= gap")
          }
        }
      }
    }
  }

  test("both formulations produce identical visit sets") {
    for (seed <- 16L to 30L) {
      val rows = sample(seed)
      if (rows.nonEmpty) {
        val df = toDf(rows)
        val win = Sessionize.visits(df)
          .select("user_id", "visit_start_us", "visit_end_us", "n_events")
          .as[(String, Long, Long, Long)].collect().sorted
        val isl = Sessionize.withSessionIds(df)
          .groupBy("user_id", "session_id")
          .agg(min("ts_us").as("s"), max("ts_us").as("e"), count(lit(1)).as("n"))
          .select("user_id", "s", "e", "n")
          .as[(String, Long, Long, Long)].collect().sorted
        assert(win === isl, s"seed=$seed")
      }
    }
  }

  test("order-insensitivity: shuffled input yields identical visits") {
    for (seed <- 31L to 40L) {
      val rows = sample(seed)
      if (rows.nonEmpty) {
        def visitsOf(rs: List[(String, Long)]) =
          Sessionize.visits(toDf(rs))
            .select("user_id", "visit_start_us", "visit_end_us", "n_events")
            .as[(String, Long, Long, Long)].collect().sorted
        assert(visitsOf(rows) === visitsOf(rows.reverse), s"seed=$seed")
      }
    }
  }

  /** Streams heavy in same-second ties and exact-gap breaks: every ts is
    * a multiple of 900 s, so neighbours tie, sit 1800 s apart, or not. */
  private val tieGen: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0, 2)
      k <- Gen.choose(0L, 12L)
    } yield (s"u$u", k * 900L * 1000000L))
  } yield rows

  /** A tie that straddles a break (two hits 1800 s after the last one)
    * and an exact-1800 s gap followed by a 1799 s one. */
  private val edgeRows: List[(String, Long)] =
    List(0L, 0L, 1800L, 1800L, 2000L, 3800L, 3800L, 5599L, 5599L)
      .map(t => ("t", t * 1000000L))

  /** The edge rows, 15 generated streams and 15 tie-heavy ones as one
    * frame: each stream's users carry its name, so streams never mix. */
  private val equivalenceRows: List[(String, Long)] =
    (("edge" -> edgeRows) +:
      ((41L to 55L).map(seed => s"s$seed" -> sample(seed)) ++
       (1L to 15L).map(seed => s"tie$seed" ->
         tieGen.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil))))
      .toList.flatMap { case (stream, rows) => rows.map { case (u, ts) => (s"$stream/$u", ts) } }

  private def assertSameRows(a: DataFrame, b: DataFrame, clue: String): Unit = {
    assert(a.exceptAll(b).isEmpty, s"$clue: rows only in the first")
    assert(b.exceptAll(a).isEmpty, s"$clue: rows only in the second")
  }

  test("one-sort withSessionIds equals the two-window formulation") {
    val cols = Seq("user_id", "ts_us", "session_id", "visit_start_us", "visit_key").map(col)
    val df = toDf(equivalenceRows)
    assertSameRows(Sessionize.withSessionIds(df).select(cols: _*),
                   TwoWindowBounds(df, gapUs).select(cols: _*), "withSessionIds")
  }

  test("writeAll's exports equal the two-window formulation's, line for line") {
    // ts in seconds, as the exports take it; the page tells ties apart
    val parsed = HitParser.parse(equivalenceRows.zipWithIndex.map { case ((u, tsUs), i) =>
      s"${tsUs / 1000000L}\t$u\t1\ttrk\t\t2\tp$i\tsrv\tibm\tscv"
    }.toDF("value"))
    val oracle = TwoWindowBounds(parsed, 1800L, "ts")
    val dir = tempDir("graft-one-sort").toString
    Exports.writeAll(parsed, dir)
    oracle.select(Schemas.hitsExportColumns.map(col): _*).write.csv(s"$dir/ref/hits")
    oracle.filter(col("session_first"))
      .select(col("visit_key"), col("user_id"), col("visit_start_us"), col("visit_end_us"))
      .write.csv(s"$dir/ref/visits")
    parsed.select("user_id", "ibm_id", "scv_id").write.csv(s"$dir/ref/visitors")
    assert(spark.read.text(s"$dir/visits").count() > equivalenceRows.map(_._1).distinct.size)
    for (e <- Exports.Names)
      assertSameRows(spark.read.text(s"$dir/$e"), spark.read.text(s"$dir/ref/$e"), e)
  }
}

/** `Sessionize.withSessionBounds` before the one-sort rewrite, its body
  * kept verbatim as the equivalence oracle: a second window, partitioned by
  * `(user, session_id)`, gives each row its session's `min`/`max` ts, and
  * `session_first` marks the row that opens a session. */
private object TwoWindowBounds {
  def apply(events: DataFrame, gapUs: Long, tsUsCol: String = "ts_us",
            userCol: String = "user_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsUsCol)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSid = events
      .withColumn("prev_ts_us", lag(tsUsCol, 1).over(byUser))
      .withColumn(
        "session_break",
        when(col(tsUsCol) - col("prev_ts_us") >= gapUs, 1).otherwise(0)
      )
      .withColumn("session_id", sum("session_break").over(running))
      .withColumn("session_first",
                  col("prev_ts_us").isNull || col("session_break") === 1)
      .drop("prev_ts_us", "session_break")
    val bySession = Window.partitionBy(userCol, "session_id")
    withSid
      .select(col("*"),
              min(tsUsCol).over(bySession).as("visit_start_us"),
              max(tsUsCol).over(bySession).as("visit_end_us"))
      .withColumn("visit_key", Sessionize.visitKey(col(userCol), col("visit_start_us")))
  }
}
