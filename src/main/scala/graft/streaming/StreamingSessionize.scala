package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.model.Schemas
import graft.session.Sessionize

/**
 * Structured-Streaming sessionization (SURVEY.md §7.1 `graft.streaming`;
 * the BASELINE-mandated formulation): the SAME session-window aggregation
 * as the batch path ([[graft.session.Sessionize.visits]]), run over a
 * stream with an event-time watermark. Beam's unified model
 * (`main.py:97` event-time + `main.py:217` Sessions) maps onto exactly
 * this — one query body, two execution modes.
 *
 * Semantics beyond the reference (which had no late-data policy at all,
 * SURVEY.md §2.1): events later than `watermarkDelay` behind the max seen
 * event time are dropped and their sessions finalized — in append mode a
 * session is emitted once its gap can no longer be extended. State is
 * per-(user, open-session) only; Spark's incremental session merge keeps it
 * bounded by ACTIVE sessions, not history — the property that lets this run
 * indefinitely against a 100 TB/day firehose.
 */
object StreamingSessionize {

  /**
   * Per-visit rollup over a streaming frame with schema
   * (user_id, ts_t timestamp, ts_us long) — same output contract as the
   * batch [[Sessionize.visits]]: user_id, visit_start_us, visit_end_us,
   * n_events, visit_key.
   */
  def visitsStream(events: DataFrame,
                   gapUs: Long = Schemas.SessionGapUs,
                   watermarkDelay: String = Schemas.SessionGap): DataFrame =
    Sessionize.visits(events.withWatermark("ts_t", watermarkDelay), gapUs)
}
