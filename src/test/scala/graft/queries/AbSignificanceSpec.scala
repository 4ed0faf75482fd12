package graft.queries

import graft.SparkSpec

/** Exact chi-square verdict contracts: hand-computed 2x2 cells on both
  * sides of the 3.841459 cut, and the zero-association case. */
class AbSignificanceSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(Long, String)]) = {
    val dir = tempDir("graft-ab").toString
    rows.zipWithIndex.map { case ((user, ty), i) =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
       user, ty, 1.0, "{\"k\": 1}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    CoreQueries.qAbSignificance.fn(spark, dir)
      .select("event_type", "a", "b", "c", "d", "significant")
      .as[(String, Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }

  test("cells land exactly; chi-square flags the skewed type, not the uniform one") {
    val users = 0L until 20L
    // "base": everyone -> a=10 b=0 c=10 d=0, (ad-bc)=0 -> chi2=0
    val base = users.map(_ -> "base")
    // "t": 9 of 10 even users, 2 of 10 odd users ->
    // a=9 b=1 c=2 d=8, chi2 = 20*70^2/(10*10*11*9) = 9.898.. > 3.841459
    val t = users.filter(u => u % 2 == 0 && u != 18).map(_ -> "t") ++
      Seq(1L -> "t", 3L -> "t")
    val got = run(base ++ t)
    assert(got("base") === ((10L, 0L, 10L, 0L, 0)))
    assert(got("t") === ((9L, 1L, 2L, 8L, 1)))
  }

  test("a mild skew below the cut does not flag") {
    val users = 0L until 20L
    val base = users.map(_ -> "base")
    // "m": 7 of 10 even, 4 of 10 odd -> a=7 b=3 c=4 d=6,
    // chi2 = 20*(42-12)^2/(10*10*11*9) = 20*900/9900 = 1.818 < 3.841459
    val m = users.filter(u => u % 2 == 0 && u <= 12).map(_ -> "m") ++
      Seq(1L, 3L, 5L, 7L).map(_ -> "m")
    val got = run(base ++ m)
    assert(got("m") === ((7L, 3L, 4L, 6L, 0)))
  }

  test("doers in only one arm still yields four cells and a defined verdict") {
    val users = 0L until 20L
    val base = users.map(_ -> "base")
    // "solo": 3 even users only — the (solo, grp=1) row does not exist,
    // which used to NULL c and d (and the verdict) through the aggregate;
    // the full-grid build pins c=0, d=n_grp(1)=10. a=3 b=7 c=0 d=10:
    // chi2 = 20*(30-0)^2 / (10*10*3*17) = 3.529 < 3.841459 -> 0
    val solo = Seq(0L, 2L, 4L).map(_ -> "solo")
    val got = run(base ++ solo)
    assert(got("solo") === ((3L, 7L, 0L, 10L, 0)))
    // "heavy": 8 even users only. a=8 b=2 c=0 d=10:
    // chi2 = 20*6400/(10*10*8*12) = 13.33 > 3.841459 -> 1
    val got2 = run(base ++ users.filter(u => u % 2 == 0 && u < 16).map(_ -> "heavy"))
    assert(got2("heavy") === ((8L, 2L, 0L, 10L, 1)))
  }

  test("a NULL event_type is a real group with its true doer counts") {
    val users = 0L until 20L
    val base = users.map(_ -> "base")
    // users 0,2 (even arm) and 1 (odd arm) fire a NULL-typed event:
    // distinct() keeps NULL as a group and the null-safe grid join must
    // report a=2 b=8 c=1 d=9 — not the zeroed row an equality join gives
    val nulls = Seq(0L, 2L, 1L).map(_ -> (null: String))
    val got = run(base ++ nulls)
    assert(got(null) === ((2L, 8L, 1L, 9L, 0)))
  }

  test("one arm empty entirely: zero-marginal table, verdict pinned to 0") {
    // only even users exist anywhere -> arm 1 has ZERO users; the literal
    // arms frame keeps grp=1 alive with n_grp=0, so c=d=0 and every type's
    // verdict is the defined degenerate 0 — not a vanished row
    val evens = Seq(0L, 2L, 4L, 6L).map(_ -> "only")
    val got = run(evens)
    assert(got("only") === ((4L, 0L, 0L, 0L, 0)))
  }
}
