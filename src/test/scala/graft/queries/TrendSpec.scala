package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Trend-rational contracts: exact least-squares numerator/denominator
  * and the calendar-gap-aware day index. */
class TrendSpec extends SparkSpec {

  private def run(rows: Seq[(String, String)]) = {
    // one event per (day, type) occurrence listed; build a tiny events
    // table via timestamps at noon of each day
    import spark.implicits._
    val dir = tempDir("graft-trend").toString
    rows.zipWithIndex.map { case ((day, ty), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(s"$day 12:00:00"), 1L, ty, 1.0,
       "{\"k\": 1}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    CoreQueries.qTrendDaily.fn(spark, dir)
      .select("event_type", "n_days", "trend_num", "trend_den", "direction")
      .as[(String, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }

  test("perfect slope-2 series: num/den reduce to the exact rational 40/20") {
    // counts 1,3,5,7 on consecutive days: x=0..3, Sx=6, Sy=16, Sxy=34,
    // Sxx=14 -> num = 4*34-6*16 = 40, den = 4*14-36 = 20 (slope 2)
    val rows = Seq("2024-01-01" -> 1, "2024-01-02" -> 3,
                   "2024-01-03" -> 5, "2024-01-04" -> 7)
      .flatMap { case (d, n) => Seq.fill(n)(d -> "A") }
    assert(run(rows)("A") === ((4L, 40L, 20L, 1)))
  }

  test("day index is calendar-aware: a missing day stretches x, not rank") {
    // counts 1 on day0 and 3 on day3 (gap): x = 0 and 3, n = 2,
    // Sx=3, Sy=4, Sxy=9, Sxx=9 -> num = 2*9-12 = 6, den = 2*9-9 = 9
    // (slope 2/3 — a dense rank would claim slope 2)
    val rows = Seq.fill(1)("2024-01-01" -> "B") ++
      Seq.fill(3)("2024-01-04" -> "B")
    assert(run(rows.map(r => (r._1, r._2)))("B") === ((2L, 6L, 9L, 1)))
  }

  test("flat and declining series sign correctly") {
    val flat = Seq.fill(2)("2024-01-01" -> "C") ++ Seq.fill(2)("2024-01-02" -> "C")
    val decl = Seq.fill(5)("2024-01-01" -> "D") ++ Seq.fill(1)("2024-01-02" -> "D")
    val got = run(flat ++ decl)
    assert(got("C")._4 === 0)
    assert(got("D")._4 === -1)
  }
}
