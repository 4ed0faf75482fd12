package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/**
 * TSV hit-feed parser (reference `main.py:44-81` — `extract_data`).
 *
 * Reference semantics reproduced:
 *  - split on tab; requires ≥10 columns (indexes 8/9 are read at
 *    `main.py:53-54`, so shorter legacy rows are dropped — exactly the bug
 *    that zeroed the reference's own 8-column test fixture, SURVEY.md §5);
 *  - `user_id = col1 + "_" + col2` (`main.py:48`);
 *  - `line_number` = 2nd `;`-field of the product string when non-empty
 *    (`main.py:55-57`); a non-empty product string WITHOUT a `;` raised
 *    IndexError in the reference and dropped the whole row — preserved;
 *  - event flags decoded by membership of the numeric code in the
 *    comma-separated event list, as summable 0/1 ints (`main.py:24-42`;
 *    the `'0'/'1'`-for-summing intent is the comment at `main.py:35`);
 *  - malformed / empty-ts rows silently discarded (`main.py:78-81`,
 *    `main.py:88-92`) — but, realizing the reference's TODO at
 *    `main.py:80`, the drop count is observable via [[parseWithMetrics]].
 *
 * Implementation is pure `org.apache.spark.sql.functions` — no UDFs — so the
 * whole parse stays inside whole-stage codegen and filters/projections remain
 * visible to Catalyst.
 */
object HitParser {

  /** 0/1 int flag: does the comma-separated event list contain `code`? */
  def eventFlag(eventsCol: Column, code: String): Column =
    array_contains(split(eventsCol, ","), code).cast("int")

  /**
   * Parse raw feed lines (single `value: string` column, as produced by
   * [[graft.sources.Tables.rawFeed]]) into typed hits. Drop-malformed.
   */
  def parse(raw: DataFrame): DataFrame = {
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

  /**
   * Parse with drop observability (the reference's unimplemented TODO,
   * `main.py:80`): attaches `observe` metrics — read them from a
   * `QueryExecutionListener` or `df.collectResult` after an action.
   * `graft_parse_in.input_rows` − `graft_parse_out.parsed_rows` = drops.
   */
  def parseWithMetrics(raw: DataFrame): DataFrame = {
    val observed = raw.observe("graft_parse_in", count(lit(1)).as("input_rows"))
    parse(observed).observe("graft_parse_out", count(lit(1)).as("parsed_rows"))
  }

  /**
   * The DEAD-LETTER side of [[parse]]: every line parse drops, with the
   * FIRST-failing rule (in [[parse]]'s filter order) as a reason code —
   * the quarantine output a production feed pipeline writes beside the
   * parsed table so "silently discarded" ([[parse]]'s reference-parity
   * contract, `main.py:78-81`) becomes "discarded, attributed, and
   * re-processable". [[parse]] ∪ this = the input, exactly
   * (spec-pinned conservation): the predicates here are the literal
   * negations of [[parse]]'s filters, stated once each. Pure
   * projection + filter — codegen'd, no shuffle.
   */
  def quarantine(raw: DataFrame): DataFrame = {
    val c = split(col("value"), "\t")
    raw
      .select(col("value"), c.as("c"))
      .withColumn(
        "reason",
        when(size(col("c")) < 10, "short_row")
          .when(!col("c")(0).rlike("^[0-9]+$"), "bad_ts")
          .when(col("c")(4) =!= "" && size(split(col("c")(4), ";")) < 2,
                "bad_product"))
      .filter(col("reason").isNotNull)
      .select(col("value").as("line"), col("reason"))
  }
}
