package graft.session

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Schemas

/**
 * Sessionization — the core of the reference pipeline (`main.py:207-232`):
 * re-assemble per-user hit streams into visits with a 30-minute inactivity
 * gap, derive `visit_key = user_id + "_" + visit_start`, and expose both the
 * per-visit rollup and the per-hit enrichment.
 *
 * Two formulations, both shuffle-once:
 *
 *  1. [[visits]] — `groupBy(user_id, session_window(ts))`: Spark's native
 *     merging session windows (mirrors Beam `Sessions(1800)` at
 *     `main.py:217`; same operator runs under Structured Streaming with a
 *     watermark — graft.streaming). One `Exchange hashpartitioning(user_id)`;
 *     sessions merge incrementally inside the aggregate — no per-group list
 *     is ever materialized, unlike the reference's `GroupByKey` +
 *     `list(...)` (`main.py:115-119`), so a pathological million-hit session
 *     cannot OOM an executor at 100 TB scale.
 *
 *  2. [[withSessionIds]] — gaps-and-islands via window functions
 *     (`lag` → gap flag → running sum, and a running max of session-start
 *     ts for `visit_start_us`): per-row session ids under ONE
 *     sort-within-partition, the skew-safe shape for per-hit enrichment and
 *     the formulation a DuckDB/ANSI oracle can replicate exactly.
 *
 * Boundary semantics (SURVEY.md §7.2): a gap of EXACTLY the timeout starts a
 * new session — Beam merges `[t, t+gap)` intervals only when they OVERLAP,
 * so abutting windows (diff == gap) stay separate. Spark's `session_window`
 * is the opposite: it merges when the next event lands ON the extent end
 * (boundary-inclusive — verified by SessionizeSpec's exact-1800 s test).
 * Since the engine's event time is integer microseconds, [[visits]] passes
 * `gapUs - 1` microseconds to `session_window`, which makes Spark's
 * inclusive merge (diff ≤ gap-1µs) exactly Beam's exclusive one
 * (diff < gap ⟺ split at diff ≥ gap). The islands formulation splits on
 * `diff >= gap` directly, and `visit_end` is `max(ts)` (reference
 * `main.py:121`), never the window's extent end.
 *
 * All timestamps are integer µs since epoch (`ts_us`), keeping the oracle
 * comparison float-free (see [[graft.sources.Tables.events]]).
 */
object Sessionize {

  /** visit_key = user_id + "_" + visit_start (reference `main.py:122`). */
  def visitKey(userId: Column, visitStart: Column): Column =
    concat_ws("_", userId, visitStart)

  /**
   * Per-visit rollup via native session windows.
   * Output: user_id, visit_start_us, visit_end_us, n_events, visit_key.
   */
  def visits(events: DataFrame,
             gapUs: Long = Schemas.SessionGapUs,
             userCol: String = "user_id",
             tsCol: String = "ts_t",
             tsUsCol: String = "ts_us"): DataFrame =
    events
      // gapUs - 1: Beam-exclusive boundary on µs event time (scaladoc above)
      .groupBy(col(userCol), session_window(col(tsCol), s"${gapUs - 1} microseconds"))
      .agg(
        min(tsUsCol).as("visit_start_us"),
        max(tsUsCol).as("visit_end_us"),
        count(lit(1)).as("n_events")
      )
      .select(
        col(userCol),
        col("visit_start_us"),
        col("visit_end_us"),
        col("n_events"),
        visitKey(col(userCol), col("visit_start_us")).as("visit_key")
      )

  /**
   * Gaps-and-islands: adds `session_id` (0-based per user) and
   * `visit_start_us`/`visit_key` to every event row without materializing
   * groups. `diff >= gap` splits (see boundary note above).
   */
  def withSessionIds(events: DataFrame,
                     gapUs: Long = Schemas.SessionGapUs,
                     userCol: String = "user_id",
                     tsUsCol: String = "ts_us"): DataFrame =
    withSessionBounds(events, gapUs, userCol, tsUsCol).drop("session_last")

  /**
   * [[withSessionIds]] plus `session_last`: true on exactly one row per
   * session, the one that closes it (no later hit of the user, or a gap
   * of at least `gapUs` to the next). On that row `tsUsCol` is the
   * visit's end, so one pass gives both the per-hit rows and, filtered
   * to `session_last`, one row per visit, with no second shuffle.
   *
   * Every column comes from one window spec, `partitionBy(user).orderBy(ts)`,
   * so the plan sorts once: `lag` and `lead` of ts, then, over the same
   * order, a running `sum` of breaks (`session_id`) and a running `max`
   * of the ts that open a session (`visit_start_us`). Rows with equal ts
   * never split, so the order the sort leaves them in does not matter.
   */
  def withSessionBounds(events: DataFrame,
                        gapUs: Long = Schemas.SessionGapUs,
                        userCol: String = "user_id",
                        tsUsCol: String = "ts_us"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsUsCol)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ts = col(tsUsCol)
    val (prev, next) = (col("prev_ts_us"), col("next_ts_us"))
    val break = ts - prev >= gapUs
    // each select is one Window operator over the one sort
    events
      .select(col("*"), lag(ts, 1).over(byUser).as("prev_ts_us"),
              lead(ts, 1).over(byUser).as("next_ts_us"))
      .select(col("*"),
              sum(when(break, 1).otherwise(0)).over(running).as("session_id"),
              max(when(prev.isNull || break, ts)).over(running).as("visit_start_us"))
      .withColumn("visit_key", visitKey(col(userCol), col("visit_start_us")))
      .withColumn("session_last", next.isNull || next - ts >= gapUs)
      .drop("prev_ts_us", "next_ts_us")
  }

  /**
   * ANSI gaps-and-islands SQL equivalent (DuckDB-runnable) of
   * [[withSessionIds]] over the `events` table — shared by oracle entries.
   */
  def islandsSql(gapUs: Long = Schemas.SessionGapUs): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us FROM events
       |), g AS (
       |  SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) >= $gapUs
       |            THEN 1 ELSE 0 END AS session_break
       |  FROM e
       |), s AS (
       |  SELECT *, SUM(session_break) OVER (PARTITION BY user_id ORDER BY ts_us
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM g
       |)""".stripMargin
}
