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
 *    `main.py:80`, the drop count is observable via [[graft.Pipeline.run]].
 *
 * One split, one rule list: each line is split once on tab and fields 4
 * and 5 once on `;` and `,` ([[fields]]); the three drop rules are one
 * `reason` expression over those splits, and [[parse]] keeps exactly the
 * lines whose reason is null while [[quarantine]] lists the rest. Both
 * select through `inline(when(…))`, so Catalyst cannot push a filter below
 * the split and substitute the split back into it once per rule. Pure
 * `org.apache.spark.sql.functions` — no UDFs — so the parse stays inside
 * whole-stage codegen.
 */
object HitParser {

  private val c = col("c")

  /** Tab field `i` of the line; null past the end of a short row. */
  private def field(i: Int): Column = get(c, lit(i))

  /** Each line split once: `c` on tab, `products` (field 4) on `;`,
    * `events` (field 5) on `,`, and `ts` — field 0 as a long, null unless
    * it is all digits and fits one, so no line can fail the cast. */
  private def fields(raw: DataFrame): DataFrame =
    raw.select(col("value"), split(col("value"), "\t").as("c"))
      .select(
        col("value"), c,
        when(field(0).rlike("^[0-9]+$"), field(0).try_cast("long")).as("ts"),
        split(field(4), ";").as("products"),
        split(field(5), ",").as("events"))

  /** The first drop rule a line of [[fields]] breaks, or null if it parses.
    * A null line (the reader yields one for a line that starts with the
    * U+0001 sentinel) has no columns: `short_row`. */
  private val reason: Column =
    when(c.isNull || size(c) < 10, "short_row")
      .when(col("ts").isNull, "bad_ts")
      .when(field(4) =!= "" && size(col("products")) < 2, "bad_product")

  /** 0/1 int flag: does the split event list contain `code`? */
  private def eventFlag(code: String): Column =
    array_contains(col("events"), code).cast("int")

  /**
   * Parse raw feed lines (single `value: string` column, as produced by
   * [[graft.sources.Tables.rawFeed]]) into typed hits. Drop-malformed.
   */
  def parse(raw: DataFrame): DataFrame =
    fields(raw).select(inline(when(reason.isNull, array(struct(
      col("ts"),
      concat_ws("_", field(1), field(2)).as("user_id"),
      field(3).as("tracking_code"),
      when(field(4) === "", lit("")).otherwise(get(col("products"), lit(1)))
        .as("line_number"),
      field(6).as("page"),
      field(7).as("site_server"),
      field(8).as("ibm_id"),
      field(9).as("scv_id"),
      eventFlag(Schemas.eventCodes("order")).as("order"),
      eventFlag(Schemas.eventCodes("pdp_view")).as("pdp_view"),
      eventFlag(Schemas.eventCodes("checkout")).as("checkout"),
      eventFlag(Schemas.eventCodes("atb")).as("atb"),
      eventFlag(Schemas.eventCodes("bag")).as("bag_view"),
      eventFlag(Schemas.eventCodes("payment")).as("payment"))))))

  /**
   * The DEAD-LETTER side of [[parse]]: every line parse drops, with the
   * first rule it breaks as a reason code — the quarantine output a
   * production feed pipeline writes beside the parsed table so "silently
   * discarded" ([[parse]]'s reference-parity contract, `main.py:78-81`)
   * becomes "discarded, attributed, and re-processable". [[parse]] ∪ this
   * = the input, exactly (spec-pinned conservation): both read the one
   * `reason` expression. Pure projection — codegen'd, no shuffle.
   */
  def quarantine(raw: DataFrame): DataFrame =
    fields(raw).select(col("value"), reason.as("reason"))
      .select(inline(when(col("reason").isNotNull,
        array(struct(col("value").as("line"), col("reason"))))))
}
