package graft.queries

import graft.SparkSpec

/** `from_json`'s STRICT typed semantics as `q_json_extract` depends on
  * them — in particular the null-on-overflow case the oracle mirrors
  * with its HUGEINT range guard (ADVICE r13): a payload k in
  * [2^63, 2^64) must count as UNPARSED, not raise and not coerce. */
class JsonExtractSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(String, String)]) = {
    val dir = tempDir("graft-json").toString
    rows.zipWithIndex.map { case ((ty, props), i) =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
       i.toLong, ty, 1.0, props)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    CoreQueries.qJsonExtract.fn(spark, dir)
      .select("event_type", "n_parsed", "sum_k", "min_k", "max_k")
      .as[(String, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }

  test("overflow, malformed, quoted, fractional, and missing all parse to NULL") {
    val got = run(Seq(
      "t" -> """{"k": 7}""",
      "t" -> """{"k": -3}""",
      "t" -> """{"k": 18446744073709551615}""", // 2^64-1: overflows LongType
      "t" -> """{"k": 9223372036854775808}""",  // 2^63: first overflowing value
      "t" -> """{"k": "7"}""",                  // quoted: strict type says null
      "t" -> """{"k": 1.5}""",                  // fractional
      "t" -> """{"j": 1}""",                    // missing key
      "t" -> "not json at all"))
    assert(got("t") === ((2L, Some(4L), Some(-3L), Some(7L))))
  }

  test("boundary values parse: Long.MaxValue and Long.MinValue are in range") {
    val got = run(Seq(
      "b" -> """{"k": 9223372036854775807}""",
      "b" -> """{"k": -9223372036854775808}"""))
    assert(got("b") === ((2L, Some(-1L),
                          Some(Long.MinValue), Some(Long.MaxValue))))
  }
}
