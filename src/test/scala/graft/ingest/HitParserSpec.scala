package graft.ingest

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, StringSplit}

import graft.SparkSpec
import graft.ingest.FeedSynth
import graft.sources.Tables

/** Parser contract tests (reference `main.py:44-81`; fixture shapes from
  * FIXTURES.md §1, including the 8-column legacy rows that zeroed the
  * reference's own test fixture — SURVEY.md §5). */
class HitParserSpec extends SparkSpec {
  import spark.implicits._

  private def parse(lines: String*) =
    HitParser.parse(lines.toDF("value"))

  private val happy =
    "1517958846\t10001026\t3484482593\tTRK1\tPROD;SKU42;1\t2,12,204\tM:Home\tm.example.com\tibm1\tscv1"

  test("10-column happy path: all 14 fields") {
    val rows = parse(happy).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("ts") === 1517958846L)
    assert(r.getAs[String]("user_id") === "10001026_3484482593")
    assert(r.getAs[String]("tracking_code") === "TRK1")
    assert(r.getAs[String]("line_number") === "SKU42")
    assert(r.getAs[String]("page") === "M:Home")
    assert(r.getAs[String]("site_server") === "m.example.com")
    assert(r.getAs[String]("ibm_id") === "ibm1")
    assert(r.getAs[String]("scv_id") === "scv1")
    // codes present: 2 (pdp_view), 12 (atb), 204 (payment)
    assert(r.getAs[Int]("pdp_view") === 1)
    assert(r.getAs[Int]("atb") === 1)
    assert(r.getAs[Int]("payment") === 1)
    assert(r.getAs[Int]("order") === 0)
    assert(r.getAs[Int]("checkout") === 0)
    assert(r.getAs[Int]("bag_view") === 0)
  }

  test("all projected event codes decode (main.py:26-34)") {
    def withCodes(codes: String) =
      s"1000\tu\tv\t\t\t$codes\tp\tsrv\ti\ts"
    val r = parse(withCodes("1,2,11,12,14,204")).collect().head
    for (f <- Seq("order", "pdp_view", "checkout", "atb", "bag_view", "payment"))
      assert(r.getAs[Int](f) === 1, f)
    val r0 = parse(withCodes("99,100")).collect().head
    for (f <- Seq("order", "pdp_view", "checkout", "atb", "bag_view", "payment"))
      assert(r0.getAs[Int](f) === 0, f)
    // rfb (code 13) is mapped by the reference but never projected —
    // its presence must not set any projected flag
    val r13 = parse(withCodes("13")).collect().head
    for (f <- Seq("order", "pdp_view", "checkout", "atb", "bag_view", "payment"))
      assert(r13.getAs[Int](f) === 0, f)
  }

  test("substring codes don't false-positive (1 vs 11 vs 12)") {
    val r = parse("1000\tu\tv\t\t\t11\tp\tsrv\ti\ts").collect().head
    assert(r.getAs[Int]("checkout") === 1)
    assert(r.getAs[Int]("order") === 0) // '1' is not in [11]
  }

  test("8-column legacy rows dropped (the reference fixture bug)") {
    // the exact shape of /root/reference/data-test/test.tsv rows
    val legacy = "1517958846\t10001026\t3484482593\t\t\t102,106\tM:Home\tm.example.com"
    assert(parse(legacy).count() === 0)
    assert(parse(legacy, happy).count() === 1)
  }

  test("empty or non-numeric ts dropped (main.py:88-92)") {
    val emptyTs = "\tu\tv\t\t\t2\tp\tsrv\ti\ts"
    val badTs = "12ab34\tu\tv\t\t\t2\tp\tsrv\ti\ts"
    assert(parse(emptyTs, badTs).count() === 0)
  }

  test("product string: empty → empty line_number; no ';' → row dropped (main.py:55-57)") {
    val noProd = "1000\tu\tv\t\t\t2\tp\tsrv\ti\ts"
    assert(parse(noProd).collect().head.getAs[String]("line_number") === "")
    val noSemi = "1000\tu\tv\t\tNOSEMI\t2\tp\tsrv\ti\ts"
    assert(parse(noSemi).count() === 0) // reference IndexError → drop
    val multi = "1000\tu\tv\t\ta;b;c;d\t2\tp\tsrv\ti\ts"
    assert(parse(multi).collect().head.getAs[String]("line_number") === "b")
  }

  test("FeedSynth planted drops account for exactly the parse losses") {
    import graft.sources.Tables
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val parsed = HitParser.parse(FeedSynth.synthLines(events))
    // expected survivors: rows hit by none of the three planted defects
    // (8-column short row, empty ts, product string without ';')
    val expected = events.filter(
      !(org.apache.spark.sql.functions.col("event_id") % 97 === 0) &&
      !(org.apache.spark.sql.functions.col("event_id") % 89 === 0) &&
      !(org.apache.spark.sql.functions.col("event_id") % 83 === 0)).count()
    assert(parsed.count() === expected)
  }

  test("parseWithMetrics records input and surviving counts (main.py:80 TODO)") {
    val raw = Seq(happy, "\tu\tv\t\t\t2\tp\tsrv\ti\ts", "short\trow").toDF("value")
    val parsed = HitParser.parseWithMetrics(raw)
    // collect() drives parsed's OWN QueryExecution — observed metrics are
    // attached per-execution, so a different action (e.g. count()) would
    // leave this QE's metrics empty
    assert(parsed.collect().length === 1) // 2 of 3 dropped
    val observed = parsed.queryExecution.observedMetrics
    assert(observed("graft_parse_in") === Row(3L))
    assert(observed("graft_parse_out") === Row(1L))
  }

  test("quarantine is the exact complement of parse, with first-rule reasons") {
    val lines = Seq(
      happy,                                               // parses
      "1000\tu\tv",                                      // short_row
      "\tu\tv\tt\t\tcodes\tp\tsrv\ti\ts",         // bad_ts (empty)
      "xx\tu\tv\tt\t\tcodes\tp\tsrv\ti\ts",       // bad_ts (non-numeric)
      "1000\tu\tv\tt\tNOSEMI\tc\tp\tsrv\ti\ts",   // bad_product
      "abc\tu\tv\tt\tNOSEMI"                           // short_row wins (first rule)
    )
    val raw = lines.toDF("value")
    val q = HitParser.quarantine(raw).as[(String, String)].collect().toMap
    assert(q === Map(
      lines(1) -> "short_row",
      lines(2) -> "bad_ts",
      lines(3) -> "bad_ts",
      lines(4) -> "bad_product",
      lines(5) -> "short_row"))
    // conservation: parse keeps exactly the lines quarantine rejects nothing of
    assert(HitParser.parse(raw).count() + q.size === lines.size)
  }

  private def feedFile(dir: Path, lines: Seq[String]): String = {
    val f = dir.resolve("feed.tsv")
    Files.write(f, lines.map(_ + "\n").mkString.getBytes(ISO_8859_1))
    f.toString
  }

  test("an all-digit ts too long for a long is bad_ts, not a failed run") {
    val overflow = happy.replaceFirst("^[0-9]+", "99999999999999999999")
    val raw = Seq(happy, overflow).toDF("value")
    assert(HitParser.parse(raw).collect().map(_.getAs[Long]("ts")).toSeq ===
             Seq(1517958846L))
    assert(HitParser.quarantine(raw).as[(String, String)].collect().toSeq ===
             Seq(overflow -> "bad_ts"))
  }

  test("a line the reader yields as null is quarantined as short_row") {
    // the CSV reader's nullValue is "", so a leading U+0001 (its
    // delimiter) makes the line's only column null
    val raw = Tables.rawFeed(spark, feedFile(tempDir("graft-parse-null"),
                                             Seq(happy, "\u0001" + happy)))
    assert(raw.filter($"value".isNull).count() === 1)
    val q = HitParser.quarantine(raw).collect()
    assert(q.map(r => (Option(r.getString(0)), r.getString(1))).toSeq ===
             Seq((None, "short_row")))
    assert(HitParser.parse(raw).count() + q.length === raw.count())
  }

  test("parse and quarantine split each line on tab once (executed plan)") {
    val raw = Tables.rawFeed(spark, feedFile(tempDir("graft-parse-plan"), Seq(happy)))
    for ((name, df) <- Seq("parse" -> HitParser.parse(raw),
                           "quarantine" -> HitParser.quarantine(raw))) {
      df.collect()
      val splits = df.queryExecution.executedPlan.flatMap(_.expressions.flatMap(_.collect {
        case s @ StringSplit(a: AttributeReference, _, _) if a.name == "value" => s
      }))
      assert(splits.size === 1, s"$name:\n${df.queryExecution.executedPlan}")
    }
  }

  test("fuzz: parse ∪ quarantine = input, and parse equals the filter formulation") {
    val overflowTs = FeedFuzz.OverflowTs
    val lines = FeedFuzz.lines()
    val all = Tables.rawFeed(spark, feedFile(tempDir("graft-parse-fuzz"), lines), "ISO-8859-1")
    // lines whose ts field is the overflow value crashed the filter formulation
    val safe = Tables.rawFeed(spark, feedFile(tempDir("graft-parse-fuzz-safe"),
                                              lines.filterNot(_.startsWith(overflowTs))),
                              "ISO-8859-1")
    val parsed = HitParser.parse(all).cache()
    val quarantined = HitParser.quarantine(all).cache()
    try {
      assert(parsed.count() + quarantined.count() === all.count())
      assert(quarantined.select("reason").distinct().as[String].collect().toSet ===
               Set("short_row", "bad_ts", "bad_product"))
      assert(quarantined.filter($"line".isNull).count() > 0)
      assert(quarantined.filter($"line".startsWith(overflowTs)).count() > 0)
      // the left-out lines all drop, so parse over every line must match
      val oracle = FilterParse(safe)
      assert(parsed.count() > 0)
      assert(parsed.exceptAll(oracle).isEmpty, "parse rows the filter formulation drops")
      assert(oracle.exceptAll(parsed).isEmpty, "filter formulation rows parse drops")
    } finally { parsed.unpersist(); quarantined.unpersist() }
  }
}

/** The seeded feed fuzz: 3,000 lines of random fields with bad `ts`
  * values, short and long rows, empty fields, trailing `\r`, non-ASCII
  * Latin-1 text and planted U+0001 (leading and inner). Every char is
  * Latin-1. */
private[graft] object FeedFuzz {
  /** An all-digit `ts` too long for a long. */
  val OverflowTs = "99999999999999999999"

  def lines(seed: Long = 7L, n: Int = 3000): Seq[String] = {
    val rnd = new Random(seed)
    val alphabet = "abcXYZ019 ;,:-_\u00e9\u00fc\u00df\u00ff\u00a0"
    def text(max: Int) = Seq.fill(rnd.nextInt(max + 1))(alphabet(rnd.nextInt(alphabet.length))).mkString
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    Seq.fill(n) {
      val ts = pick(rnd.nextInt(Int.MaxValue).toString, "", "12ab", "+5", " 7", "-3",
                    OverflowTs, "0000000000000000000001517958846", "9223372036854775807")
      val products = pick("", "P;SKU1;2", "NOSEMI", ";", "a;b;c;d", text(6))
      val events = pick("", "1,2,11", "12,204", "13", text(8))
      val full = Seq(ts, text(9), rnd.nextInt(1000).toString, text(4), products, events,
                     text(12), text(6), text(4), text(4)) ++ Seq.fill(pick(0, 0, 2))(text(3))
      val cut = if (rnd.nextInt(6) == 0) full.take(rnd.nextInt(10)) else full
      val fields = cut.map(f => if (rnd.nextInt(12) == 0) "" else f)
      val line = fields.mkString("\t") + pick("", "", "", "\r")
      val k = rnd.nextInt(line.length + 1)
      pick(line, line, line, line, line, line, line,
           "\u0001" + line, line.take(k) + "\u0001" + line.drop(k))
    }
  }
}

/** `HitParser.parse` as a chain of filters over one tab split — the
  * formulation before the one-split rewrite, kept verbatim as the fuzz's
  * equivalence oracle. Its ANSI cast fails a run on an all-digit ts that
  * does not fit a long, so the fuzz feeds it no such line. */
private object FilterParse {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import graft.model.Schemas

  def eventFlag(eventsCol: Column, code: String): Column =
    array_contains(split(eventsCol, ","), code).cast("int")

  def apply(raw: DataFrame): DataFrame = {
    val c = split(col("value"), "\t")
    raw
      .select(c.as("c"))
      // ≥10 columns, numeric non-empty ts, products either empty or with a
      // SKU field — everything else is a reference-parity drop.
      .filter(size(col("c")) >= 10)
      .filter(col("c")(0).rlike("^[0-9]+$"))
      .filter(col("c")(4) === "" || size(split(col("c")(4), ";")) >= 2)
      .select(
        col("c")(0).cast("long").as("ts"),
        concat_ws("_", col("c")(1), col("c")(2)).as("user_id"),
        col("c")(3).as("tracking_code"),
        when(col("c")(4) === "", lit(""))
          .otherwise(element_at(split(col("c")(4), ";"), 2))
          .as("line_number"),
        col("c")(6).as("page"),
        col("c")(7).as("site_server"),
        col("c")(8).as("ibm_id"),
        col("c")(9).as("scv_id"),
        eventFlag(col("c")(5), Schemas.eventCodes("order")).as("order"),
        eventFlag(col("c")(5), Schemas.eventCodes("pdp_view")).as("pdp_view"),
        eventFlag(col("c")(5), Schemas.eventCodes("checkout")).as("checkout"),
        eventFlag(col("c")(5), Schemas.eventCodes("atb")).as("atb"),
        eventFlag(col("c")(5), Schemas.eventCodes("bag")).as("bag_view"),
        eventFlag(col("c")(5), Schemas.eventCodes("payment")).as("payment")
      )
  }
}
