package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.session.Sessionize
import graft.sources.Tables

/**
 * Sessionization / clickstream query surface — the reference's own
 * capabilities (SURVEY.md §2 O1-O11) re-expressed over the `events` table.
 */
object CoreQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** §7.2 flagship slice: scan → event time → session window → agg → derive. */
  val qSessionize = Q(
    "q_sessionize",
    (s, dir) => Sessionize.visits(events(s, dir)),
    Some(s"""${Sessionize.islandsSql()}
      |SELECT user_id, MIN(ts_us) AS visit_start_us, MAX(ts_us) AS visit_end_us,
      |       COUNT(*) AS n_events,
      |       CAST(user_id AS VARCHAR) || '_' || CAST(MIN(ts_us) AS VARCHAR) AS visit_key
      |FROM s GROUP BY user_id, session_id""".stripMargin)
  )

  /** Per-hit enrichment: every event + its session's visit_key (O6/O8/O9). */
  val qHitsEnriched = Q(
    "q_hits_enriched",
    (s, dir) =>
      Sessionize
        .withSessionIds(events(s, dir))
        .select("event_id", "user_id", "ts_us", "event_type", "visit_key"),
    Some(s"""${Sessionize.islandsSql()}
      |SELECT event_id, user_id, ts_us, event_type,
      |       CAST(user_id AS VARCHAR) || '_' ||
      |       CAST(MIN(ts_us) OVER (PARTITION BY user_id, session_id) AS VARCHAR) AS visit_key
      |FROM s""".stripMargin)
  )

  /**
   * Conversion funnel — the declared purpose of the reference's 0/1 flag
   * encoding ("so it can be summed up later on", `main.py:35`): per-user
   * event-type counts and a converted flag.
   */
  val qFunnel = Q(
    "q_funnel",
    (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .agg(
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          (count(when(col("event_type") === "purchase", 1)) > 0)
            .cast("int").as("converted")
        ),
    Some("""SELECT user_id,
      |       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
      |       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      |       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS INT) AS converted
      |FROM events GROUP BY user_id""".stripMargin)
  )

  /**
   * Visitor projection, duplicates retained — reference parity quirk: the
   * visitors branch taps the stream before grouping, one row per hit
   * (`main.py:214`, SURVEY.md §1.5).
   */
  val qVisitorsRaw = Q(
    "q_visitors_raw",
    (s, dir) => events(s, dir).select("user_id"),
    Some("SELECT user_id FROM events")
  )

  /** The honest variant the reference lacked: deduplicated visitors. */
  val qVisitorsDedup = Q(
    "q_visitors_dedup",
    (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .agg(min("ts_us").as("first_seen_us"), max("ts_us").as("last_seen_us"),
             count(lit(1)).as("n_events")),
    Some("""SELECT user_id, MIN(epoch_us(ts)) AS first_seen_us,
      |       MAX(epoch_us(ts)) AS last_seen_us, COUNT(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin)
  )

  /**
   * Property extraction (reference O1/O1a: event-code decode from a packed
   * field): pull the numeric `k` out of the JSON `props` string and decode
   * 0/1 flags from `event_type` — regexp + conditional projection, all
   * codegen'd built-ins.
   */
  val qParseExtract = Q(
    "q_parse_extract",
    (s, dir) =>
      events(s, dir)
        .select(
          col("event_id"),
          col("user_id"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
            .cast("long").as("k"),
          (col("event_type") === "purchase").cast("int").as("is_order"),
          (col("event_type") === "view").cast("int").as("is_view")
        ),
    Some("""SELECT event_id, user_id,
      |       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
      |       CAST(event_type = 'purchase' AS INT) AS is_order,
      |       CAST(event_type = 'view' AS INT) AS is_view
      |FROM events""".stripMargin)
  )

  /**
   * Session statistics over the sessionized stream: per-user visit counts
   * and dwell (reference's three outputs logically re-joined — the analysis
   * the hits/visits/visitors exports exist to serve).
   */
  val qVisitStats = Q(
    "q_visit_stats",
    (s, dir) =>
      Sessionize
        .visits(events(s, dir))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_visits"),
          sum("n_events").as("total_events"),
          max("n_events").as("max_events_per_visit"),
          sum(col("visit_end_us") - col("visit_start_us")).as("total_dwell_us")
        ),
    Some(s"""${Sessionize.islandsSql()}
      |, v AS (
      |  SELECT user_id, session_id, MIN(ts_us) AS vs, MAX(ts_us) AS ve, COUNT(*) AS n
      |  FROM s GROUP BY user_id, session_id
      |)
      |SELECT user_id, COUNT(*) AS n_visits, CAST(SUM(n) AS BIGINT) AS total_events,
      |       MAX(n) AS max_events_per_visit, CAST(SUM(ve - vs) AS BIGINT) AS total_dwell_us
      |FROM v GROUP BY user_id""".stripMargin)
  )

  /**
   * CSV export formatting (reference O10/O11/K1, `main.py:99-107`): the
   * all-string comma-joined line shape, reconstructed at the boundary only.
   */
  val qCsvFormat = Q(
    "q_csv_format",
    (s, dir) =>
      Sessionize
        .visits(events(s, dir))
        .select(
          concat_ws(",", col("visit_key"), col("user_id"),
                    col("visit_start_us"), col("visit_end_us")).as("line")
        ),
    Some(s"""${Sessionize.islandsSql()}
      |, v AS (
      |  SELECT user_id, MIN(ts_us) AS vs, MAX(ts_us) AS ve
      |  FROM s GROUP BY user_id, session_id
      |)
      |SELECT CAST(user_id AS VARCHAR) || '_' || CAST(vs AS VARCHAR) || ',' ||
      |       CAST(user_id AS VARCHAR) || ',' || CAST(vs AS VARCHAR) || ',' ||
      |       CAST(ve AS VARCHAR) AS line
      |FROM v""".stripMargin)
  )

  /**
   * Ordered conversion funnel — stage sequencing, not just flag counts
   * (the analysis `q_funnel`'s summable flags exist to feed): a user
   * reaches stage k only if step k happened AT OR AFTER step k-1. All
   * conditional aggregates + two broadcast-sized joins on user_id.
   */
  val qFunnelOrdered = Q(
    "q_funnel_ordered",
    (s, dir) => {
      val e = events(s, dir).select("user_id", "event_type", "ts_us")
      val tView = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("t_view"))
      val tClick = e.filter(col("event_type") === "click")
        .join(tView, "user_id")
        .filter(col("ts_us") >= col("t_view"))
        .groupBy("user_id").agg(min("ts_us").as("t_click"))
      val tBuy = e.filter(col("event_type") === "purchase")
        .join(tClick, "user_id")
        .filter(col("ts_us") >= col("t_click"))
        .groupBy("user_id").agg(min("ts_us").as("t_buy"))
      events(s, dir).select("user_id").distinct()
        .join(tView, Seq("user_id"), "left")
        .join(tClick, Seq("user_id"), "left")
        .join(tBuy, Seq("user_id"), "left")
        .select(
          col("user_id"),
          (when(col("t_buy").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0)).as("stage_reached")
        )
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, MIN(ts_us) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(ts_us) AS t_click
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND ts_us >= t_view GROUP BY e.user_id),
      |b AS (SELECT e.user_id, MIN(ts_us) AS t_buy
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND ts_us >= t_click GROUP BY e.user_id)
      |SELECT u.user_id,
      |       CASE WHEN b.t_buy IS NOT NULL THEN 3
      |            WHEN c.t_click IS NOT NULL THEN 2
      |            WHEN v.t_view IS NOT NULL THEN 1
      |            ELSE 0 END AS stage_reached
      |FROM (SELECT DISTINCT user_id FROM e) u
      |LEFT JOIN v ON u.user_id = v.user_id
      |LEFT JOIN c ON u.user_id = c.user_id
      |LEFT JOIN b ON u.user_id = b.user_id""".stripMargin)
  )

  /**
   * Cohort retention: users grouped by first-active day, counted per
   * day-offset of later activity — the visitors table's raison d'être at
   * analysis time. Day arithmetic in integer µs (86400000000 µs/day), so
   * the oracle replays it exactly.
   */
  val qRetention = Q(
    "q_retention",
    (s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), expr("ts_us div 86400000000").as("d"))
      val cohort = e.groupBy("user_id").agg(min("d").as("cohort_day"))
      e.distinct() // (user_id, d) unique ⇒ plain count per (cohort, d) IS
        .join(cohort, "user_id") // the distinct-user count — no second
        .groupBy("cohort_day", "d") // distinct-aggregate shuffle needed
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"),
                col("n_users"))
    },
    Some("""WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
      |f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)
      |SELECT cohort_day, d - cohort_day AS day_offset, COUNT(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY cohort_day, d""".stripMargin)
  )

  /**
   * Skew-safe two-phase aggregation (salting): phase 1 aggregates on
   * (user_id, salt) — a hot key's rows spread over 16 reducers — phase 2
   * combines the partials per user_id. The salt is deterministic
   * (event_id mod 16, not rand()) so results are reproducible and the
   * oracle can replay the UNSALTED equivalent: the decomposition is
   * algebraically invisible, which is exactly the point. At 100 TB this is
   * the pattern for power-law keys; AQE's skew-join handles joins, salting
   * handles aggregations.
   */
  val qAggSalted = Q(
    "q_agg_salted",
    (s, dir) =>
      events(s, dir)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy("user_id", "salt")
        .agg(count(lit(1)).as("pc"),
             sum(round(col("value") * 100).cast("long")).as("pv"))
        .groupBy("user_id")
        .agg(sum("pc").as("n_events"), sum("pv").as("value_cents")),
    Some("""SELECT user_id, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY user_id""".stripMargin)
  )

  /**
   * PIVOT: event_type values become columns (explicit value list — at
   * scale, never let pivot scan for distinct values first). The oracle
   * replays it as conditional aggregation, which is also exactly the
   * physical plan Spark generates: pivot is sugar over
   * CASE-WHEN aggregates, one pass, one shuffle.
   */
  val qPivot = Q(
    "q_pivot",
    (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
        .agg(coalesce(sum(round(col("value") * 100).cast("long")), lit(0L)))
        .withColumnsRenamed(Map(
          "view" -> "view_cents", "click" -> "click_cents",
          "signup" -> "signup_cents", "purchase" -> "purchase_cents",
          "error" -> "error_cents")),
    Some("""SELECT user_id,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT), 0) AS view_cents,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT), 0) AS click_cents,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT), 0) AS signup_cents,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT), 0) AS purchase_cents,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT), 0) AS error_cents
      |FROM events GROUP BY user_id""".stripMargin)
  )

  /**
   * GAP-FILLED daily time series — resampling onto a dense calendar
   * spine: daily counts of a RARE event slice (value ≥ 400, the
   * distribution's tail) per event type, with absent (day, type) cells
   * emitted as explicit zeros. Dashboards, anomaly detectors, and
   * forecasting features all need the dense grid — a groupBy alone
   * silently drops empty days, which reads as "no data" instead of
   * "zero events".
   *
   * Scale shape: the spine is GENERATED (sequence × a literal type
   * list — days × types rows, tiny at any corpus size; never a
   * distinct-scan of the fact table to discover its own domain), the
   * fact side aggregates FIRST (one map-combinable shuffle to ~spine
   * cardinality), and the spine left-joins the aggregated table — so
   * the join touches two small frames regardless of event volume.
   */
  val qGapFill = Q(
    "q_gap_fill",
    (s, dir) => {
      val types = Seq("view", "click", "signup", "purchase", "error")
      val spine = s.range(1)
        .select(explode(sequence(
          to_date(lit("2024-01-01")), to_date(lit("2024-01-30")),
          expr("interval 1 day"))).as("day"))
        .select(col("day"),
                explode(array(types.map(lit): _*)).as("event_type"))
      val actual = events(s, dir)
        .filter(col("value") >= 400)
        .groupBy(to_date(col("ts_t")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      spine.join(actual, Seq("day", "event_type"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("event_type"),
                coalesce(col("c"), lit(0L)).as("n_events"))
    },
    Some("""WITH spine AS (
      |  SELECT CAST(g.d AS DATE) AS day, t.event_type
      |  FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
      |                       INTERVAL 1 DAY) g(d),
      |       (VALUES ('view'), ('click'), ('signup'), ('purchase'),
      |               ('error')) t(event_type)
      |), actual AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
      |  FROM events WHERE value >= 400 GROUP BY 1, 2
      |)
      |SELECT STRFTIME(spine.day, '%Y-%m-%d') AS day, spine.event_type,
      |       CAST(COALESCE(actual.c, 0) AS BIGINT) AS n_events
      |FROM spine LEFT JOIN actual
      |  ON spine.day = actual.day AND spine.event_type = actual.event_type"""
      .stripMargin)
  )

  /**
   * Event TRANSITION MATRIX — first-order Markov view of the
   * clickstream: for each (event_type → next event_type) transition
   * within a user's stream, its count and total dwell time (µs gap
   * summed as exact integers). The standard next-step analysis behind
   * "what do users do after a view?" dashboards and session-model
   * features.
   *
   * Scale shape: the lead window partitions BY USER — the group count
   * grows with the corpus, so the window scales out (each partition
   * holds one user's events, human-bounded like sessions) — and the
   * transition aggregate then shuffles only the (from, to) pair domain
   * (|types|² rows after map-side combine). The window ordering
   * carries `event_id` as tiebreak: equal timestamps within a user
   * would otherwise make the successor nondeterministic, in BOTH
   * engines.
   */
  val qTransitionMatrix = Q(
    "q_transition_matrix",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
                col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .withColumn("gap_us", lead("ts_us", 1).over(w) - col("ts_us"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
                 col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"),
             sum("gap_us").as("total_gap_us"))
    },
    Some("""WITH nxt AS (
      |  SELECT event_type,
      |         LEAD(event_type) OVER
      |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |           AS next_type,
      |         LEAD(epoch_us(ts)) OVER
      |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |           - epoch_us(ts) AS gap_us
      |  FROM events
      |)
      |SELECT event_type AS from_type, next_type AS to_type,
      |       COUNT(*) AS n_transitions,
      |       CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
      |FROM nxt WHERE next_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin)
  )

  /** Ties-inclusive cut size for [[qTopPaths]]. */
  private val TopPaths = 15

  /**
   * TOP EVENT PATHS — corpus-frequency counts of length-3 event-type
   * sequences within a user's stream (the n-gram heavy-hitter
   * discipline of `q_ngram_topk` applied to the clickstream): the
   * "view > click > purchase"-style journeys product analytics ranks.
   * Two `lead`s over the per-user window build the triple in one pass
   * (the window scales out by user), the aggregate shuffles only the
   * |types|³-bounded path domain, and the cut is the ties-INCLUSIVE
   * threshold band — deterministic, no arbitrary tiebreak among equal
   * counts.
   */
  val qTopPaths = Q(
    "q_top_paths",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      val counts = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
                col("event_type"))
        .withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
      val kth = counts.orderBy(col("cnt").desc).limit(TopPaths)
        .agg(min(col("cnt")).as("__kth"))
      counts.join(broadcast(kth), col("cnt") >= col("__kth"))
        .select("path", "cnt")
    },
    Some(s"""WITH t AS (
      |  SELECT event_type,
      |         LEAD(event_type, 1) OVER
      |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS t2,
      |         LEAD(event_type, 2) OVER
      |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS t3
      |  FROM events
      |), p AS (
      |  SELECT event_type || '>' || t2 || '>' || t3 AS path
      |  FROM t WHERE t3 IS NOT NULL
      |), c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
      |k AS (SELECT MIN(cnt) AS m
      |      FROM (SELECT cnt FROM c ORDER BY cnt DESC LIMIT $TopPaths) q)
      |SELECT path, cnt FROM c WHERE cnt >= (SELECT m FROM k)""".stripMargin)
  )

  /**
   * Session ENTRY/EXIT pages — per visit, the first and last event
   * type (landing and abandonment analysis: "where do sessions start,
   * where do they die?"). Rides [[Sessionize.withSessionIds]]'s
   * gaps-and-islands sessions and extracts the endpoints as
   * `min/max(struct(ts, event_id, type))` — a map-side-combinable
   * aggregate with the event_id tiebreak making equal-timestamp
   * endpoints deterministic, never a per-session sort or group list.
   */
  val qEntryExit = Q(
    "q_entry_exit",
    (s, dir) =>
      Sessionize.withSessionIds(events(s, dir)
          .select("user_id", "event_id", "ts_us", "event_type"))
        .groupBy("user_id", "visit_key")
        .agg(
          min(struct(col("ts_us"), col("event_id"), col("event_type")))
            .getField("event_type").as("entry_type"),
          max(struct(col("ts_us"), col("event_id"), col("event_type")))
            .getField("event_type").as("exit_type"),
          count(lit(1)).as("n_events")),
    Some(s"""${Sessionize.islandsSql()},
      |r AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |                            ORDER BY ts_us, event_id) AS ra,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |                            ORDER BY ts_us DESC, event_id DESC) AS rd
      |  FROM s
      |)
      |SELECT user_id,
      |       user_id || '_' || CAST(MIN(ts_us) AS VARCHAR) AS visit_key,
      |       MAX(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
      |       MAX(CASE WHEN rd = 1 THEN event_type END) AS exit_type,
      |       COUNT(*) AS n_events
      |FROM r GROUP BY user_id, session_id""".stripMargin)
  )

  /** Rolling window span for [[qWindowRolling]] (1 hour in µs). */
  private val RollingUs = 3600000000L

  /**
   * Per-event ROLLING 1-HOUR aggregates — the time-RANGE window frame
   * (`RANGE BETWEEN 1h PRECEDING AND CURRENT ROW` over event time, per
   * user): each event carries how many events and how much value the
   * user produced in the trailing hour — the rate-limiter / burst-
   * detection / feature-engineering primitive that row-count sliding
   * frames (`q_window_sliding`) can't express when events are unevenly
   * spaced. Value sums as exact integer cents (the `q_tpch_q3`
   * discipline — per-row rounding is engine-deterministic, integer
   * addition is associative, so the hash gate is exact where a double
   * sum would be order-sensitive).
   *
   * Scale shape: the window partitions BY USER — group count grows with
   * the corpus so the frame scales out, and each frame is human-bounded
   * (one user's trailing hour). RANGE mode makes equal-timestamp rows
   * peers (both engines follow the SQL standard: CURRENT ROW in RANGE
   * mode means "last peer"), so the result needs no tiebreak to be
   * deterministic.
   */
  val qWindowRolling = Q(
    "q_window_rolling",
    (s, dir) => rollingOf(events(s, dir)),
    Some(s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
      |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
      |         AS value_cents_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN $RollingUs PRECEDING AND CURRENT ROW)"""
      .stripMargin)
  )

  /** [[qWindowRolling]]'s body over an ARBITRARY events frame
    * (`event_id, user_id, ts_us, value`) — the spec's seam. */
  private[graft] def rollingOf(ev: DataFrame,
                               spanUs: Long = RollingUs): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-spanUs, org.apache.spark.sql.expressions.Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("ts_us"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("value_cents_1h", sum(col("cents")).over(w))
      .drop("cents")
  }

  /**
   * Daily-count ANOMALY detection per event type — the ops-dashboard
   * "did error volume spike today?" check: a day is anomalous for a
   * type when its count deviates from the type's mean by more than two
   * population standard deviations. The test is evaluated in EXACT
   * integer arithmetic — z > 2 ⟺ (n·c − S)² > 4·(n·Q − S²) with
   * n = #days, S = Σc, Q = Σc² — because a floating stddev computed in
   * different association orders puts boundary days on different sides
   * of the cut in different engines; cross-multiplied integers cannot.
   *
   * Scale shape: the event scan aggregates map-side into the day×type
   * domain (bounded: 31×5 here, calendar×taxonomy generally), and the
   * stats window runs over that compact frame only — per-type groups of
   * |days| rows, never events.
   */
  val qAnomalyDaily = Q(
    "q_anomaly_daily",
    (s, dir) =>
      anomalyOverCounts(
        events(s, dir)
          .groupBy(date_format(col("ts_t"), "yyyy-MM-dd").as("day"),
                   col("event_type"))
          .agg(count(lit(1)).as("n_events"))),
    Some("""WITH daily AS (
      |  SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
      |         CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |), st AS (
      |  SELECT *,
      |         CAST(COUNT(*) OVER w AS BIGINT) AS n_days,
      |         CAST(SUM(n_events) OVER w AS BIGINT) AS s,
      |         CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS q
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type)
      |)
      |SELECT day, event_type, n_events,
      |       CAST((n_days * n_events - s) * (n_days * n_events - s)
      |            > 4 * (n_days * q - s * s) AS INT) AS is_anomaly
      |FROM st""".stripMargin)
  )

  /** The exact-integer 2σ test over an ARBITRARY `(day, event_type,
    * n_events)` daily-count frame — [[qAnomalyDaily]]'s seam, and the
    * spec's: z > 2 ⟺ (n·c − S)² > 4·(n·Q − S²), all BIGINT. */
  private[graft] def anomalyOverCounts(daily: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    daily
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("s", sum("n_events").over(w))
      .withColumn("q", sum(col("n_events") * col("n_events")).over(w))
      .withColumn("dev", col("n_days") * col("n_events") - col("s"))
      .select(col("day"), col("event_type"), col("n_events"),
              (col("dev") * col("dev") >
                 lit(4L) * (col("n_days") * col("q") - col("s") * col("s")))
                .cast("int").as("is_anomaly"))
  }

  /**
   * RFM SEGMENTATION — the classic user-value grid: per user, recency
   * (days since last event, against the corpus max day), frequency
   * (event count), monetary (exact cents), each quartiled and combined
   * into a 3-digit segment code. The standard audience/cohort operator
   * downstream dashboards and targeting pipelines key on.
   *
   * NTILE at corpus scale: the textbook `NTILE(4) OVER (ORDER BY …)` is
   * a GLOBAL single-task window, so each quartile instead rides
   * [[CurationQueries.ntileOver]] — range-exchange rank decomposition +
   * NTILE's exact integer bucket arithmetic, replayed bit-for-bit by
   * the oracle's real NTILE. Three metrics = three ranked passes over
   * the (already user-aggregated) frame — the aggregation did the big
   * reduction; ranking cost scales with USERS, not events. All
   * quartiles ascend (q1 = most recent / least frequent / lowest
   * spend) with user_id tiebreaks — a total order per metric, so the
   * grid is deterministic under any partitioning.
   */
  val qRfmSegments = Q(
    "q_rfm_segments",
    (s, dir) => {
      val ev = events(s, dir)
      val corpusMax = ev.agg(max(to_date(col("ts_t"))).as("__cmax"))
      val u = ev.groupBy("user_id")
        .agg(max(to_date(col("ts_t"))).as("__last"),
             count(lit(1)).as("freq"),
             sum(round(col("value") * 100).cast("long")).as("monetary_cents"))
        .crossJoin(broadcast(corpusMax))
        .withColumn("r_days", datediff(col("__cmax"), col("__last")).cast("long"))
        .drop("__cmax", "__last")
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val q1 = CurationQueries.ntileOver(
        u, Seq(col("r_days").asc, col("user_id").asc), 4, nPart, "r_q")
      val q2 = CurationQueries.ntileOver(
        q1, Seq(col("freq").asc, col("user_id").asc), 4, nPart, "f_q")
      val q3 = CurationQueries.ntileOver(
        q2, Seq(col("monetary_cents").asc, col("user_id").asc), 4, nPart, "m_q")
      q3.select(col("user_id"), col("r_days"), col("freq"),
                col("monetary_cents"), col("r_q"), col("f_q"), col("m_q"),
                (col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
                  .as("segment"))
    },
    Some("""WITH u AS (
      |  SELECT user_id,
      |         CAST(date_diff('day', MAX(CAST(ts AS DATE)),
      |                (SELECT MAX(CAST(ts AS DATE)) FROM events))
      |              AS BIGINT) AS r_days,
      |         CAST(COUNT(*) AS BIGINT) AS freq,
      |         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |           AS monetary_cents
      |  FROM events GROUP BY user_id
      |), q AS (
      |  SELECT *,
      |         CAST(NTILE(4) OVER (ORDER BY r_days, user_id) AS BIGINT) AS r_q,
      |         CAST(NTILE(4) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_q,
      |         CAST(NTILE(4) OVER (ORDER BY monetary_cents, user_id) AS BIGINT)
      |           AS m_q
      |  FROM u
      |)
      |SELECT user_id, r_days, freq, monetary_cents, r_q, f_q, m_q,
      |       r_q * 100 + f_q * 10 + m_q AS segment
      |FROM q""".stripMargin)
  )

  /**
   * Semi-structured JSON extraction — the TYPED path: `from_json` with
   * a declared schema parses the `props` payload into a struct inside
   * codegen (one parse, schema-checked, null on malformed — the
   * engine-native route for semi-structured event payloads at scale),
   * where [[qParseExtract]] deliberately demonstrates the regex-scrape
   * route. Grouped k-stats in exact integers; `count(k)` counts
   * non-null parses only, so a malformed payload shows up as a count
   * deficit rather than a silent zero.
   */
  val qJsonExtract = Q(
    "q_json_extract",
    (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
                from_json(col("props"),
                          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
                  .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_parsed"),
             sum("k").as("sum_k"),
             min("k").as("min_k"), max("k").as("max_k")),
    Some("""WITH j AS (
      |  -- replicate from_json's STRICT typed semantics: a malformed
      |  -- payload, a quoted "7", a fractional 1.5, or a missing key all
      |  -- parse to NULL (a bare CAST(json_extract(..)) would ERROR on
      |  -- malformed input and silently COERCE quoted/fractional values).
      |  -- UBIGINT needs the range guard: DuckDB types ANY non-negative
      |  -- JSON integer as UBIGINT (so it must stay admitted), but a
      |  -- payload k in [2^63, 2^64) overflows Spark's LongType, where
      |  -- from_json nulls the record — without the guard this CAST
      |  -- would raise (aborting verification) exactly where Spark says
      |  -- NULL. The HUGEINT comparison never overflows.
      |  SELECT event_type,
      |         CASE WHEN json_valid(props)
      |                AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
      |                AND CAST(json_extract(props, '$.k') AS HUGEINT)
      |                      <= 9223372036854775807
      |              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
      |  FROM events
      |)
      |SELECT event_type,
      |       CAST(COUNT(k) AS BIGINT) AS n_parsed,
      |       CAST(SUM(k) AS BIGINT) AS sum_k,
      |       CAST(MIN(k) AS BIGINT) AS min_k,
      |       CAST(MAX(k) AS BIGINT) AS max_k
      |FROM j GROUP BY event_type""".stripMargin)
  )

  /**
   * LAST-TOUCH ATTRIBUTION — for every purchase, the most recent prior
   * non-purchase event in the user's stream (type + dwell gap): the
   * default credit model of marketing analytics. One running
   * conditional struct-max over the per-user ROWS frame (unbounded
   * preceding → 1 preceding, (ts, event_id) total order) — never a
   * per-purchase rescan; the frame max is O(1) amortized per row and
   * the window partitions by user, so it scales out exactly like the
   * other per-user windows here. Struct comparison is lexicographic by
   * field order in BOTH engines, so (ts_us, event_id, event_type) makes
   * the winning touch deterministic under ties; a purchase with no
   * prior touch keeps NULLs (the MAX over an all-null frame).
   */
  val qAttribution = Q(
    "q_attribution",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("event_type"))
        .withColumn("touch",
          max(when(col("event_type") =!= "purchase",
                   struct(col("ts_us"), col("event_id"), col("event_type"))))
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("touch.event_type").as("touch_type"),
                (col("ts_us") - col("touch.ts_us")).as("touch_gap_us"))
    },
    Some("""WITH t AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
      |         MAX(CASE WHEN event_type <> 'purchase'
      |                  THEN struct_pack(ts_us := epoch_us(ts),
      |                                   event_id := event_id,
      |                                   event_type := event_type) END)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS touch
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_us,
      |       touch.event_type AS touch_type,
      |       ts_us - touch.ts_us AS touch_gap_us
      |FROM t WHERE event_type = 'purchase'""".stripMargin)
  )

  /**
   * FIRST-TOUCH ATTRIBUTION — [[qAttribution]]'s mirror credit model:
   * every purchase credits the EARLIEST prior non-purchase event (the
   * acquisition view, where last-touch is the conversion view; real
   * marketing stacks report both). Same running conditional struct
   * extreme over the same per-user ROWS frame — `min` instead of
   * `max` — so the two models share cost shape, determinism argument,
   * and null behavior, and their disagreement per purchase is itself
   * the multi-touch signal.
   */
  val qFirstTouch = Q(
    "q_first_touch",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("event_type"))
        .withColumn("touch",
          min(when(col("event_type") =!= "purchase",
                   struct(col("ts_us"), col("event_id"), col("event_type"))))
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
                col("touch.event_type").as("touch_type"),
                (col("ts_us") - col("touch.ts_us")).as("touch_age_us"))
    },
    Some("""WITH t AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
      |         MIN(CASE WHEN event_type <> 'purchase'
      |                  THEN struct_pack(ts_us := epoch_us(ts),
      |                                   event_id := event_id,
      |                                   event_type := event_type) END)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS touch
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_us,
      |       touch.event_type AS touch_type,
      |       ts_us - touch.ts_us AS touch_age_us
      |FROM t WHERE event_type = 'purchase'""".stripMargin)
  )

  /** Conversion horizon for [[qFunnelWindowed]] (7 days in µs). */
  private val ConvertUs = 7L * 86400000000L

  /**
   * TIME-BOUNDED FUNNEL — did the user purchase within 7 days of their
   * FIRST view: the windowed-conversion metric the flat [[qFunnel]]
   * counts can't express (a purchase BEFORE any view must not count,
   * nor one past the horizon). Two map-side-combinable aggregates and
   * one shuffled equi-join on user_id, all exact integers: first-view
   * times, then the earliest purchase at-or-after that user's first
   * view, then the horizon flag. Users with no view never appear
   * (the funnel's population is viewers); no purchase ⇒ NULL
   * first_purchase_us and converted_7d = 0.
   */
  val qFunnelWindowed = Q(
    "q_funnel_windowed",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_type"))
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_us").as("first_view_us"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(fv, Seq("user_id"))
        .filter(col("ts_us") >= col("first_view_us"))
        .groupBy("user_id").agg(min("ts_us").as("first_purchase_us"))
      fv.join(fp, Seq("user_id"), "left")
        .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
                coalesce(
                  (col("first_purchase_us") - col("first_view_us") <= ConvertUs)
                    .cast("int"),
                  lit(0)).as("converted_7d"))
    },
    Some(s"""WITH fv AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS first_view_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id
      |), fp AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_purchase_us
      |  FROM events e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.first_view_us
      |  GROUP BY e.user_id
      |)
      |SELECT fv.user_id, fv.first_view_us, fp.first_purchase_us,
      |       CAST(COALESCE(fp.first_purchase_us - fv.first_view_us
      |                       <= $ConvertUs, FALSE) AS INT) AS converted_7d
      |FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id""".stripMargin)
  )

  /**
   * ROBUST daily-count outliers via MEDIAN ABSOLUTE DEVIATION — the
   * companion to [[qAnomalyDaily]]'s 2σ test for series where the
   * spike itself inflates the variance it's tested against (the n=5
   * ceiling the RollingAnomalySpec derives): medians don't move with
   * one outlier. Both medians are the DISCRETE lower-middle element
   * (rank ⌈n/2⌉ under a (value, day) total order — an element of the
   * set, never an interpolated float, so both engines replay the same
   * integer), and the flag is the σ-calibrated MAD test
   * |dev| > 2·1.4826·MAD, cross-multiplied to exact integers:
   * 10000·|dev| > 29652·MAD. MAD = 0 (over half the days identical)
   * degenerates to "any deviation flags" — the standard caveat,
   * stated.
   *
   * Scale shape: the event scan reduces map-side to the day×type
   * domain; both rank passes run per type over |days| rows only.
   */
  val qOutlierMad = Q(
    "q_outlier_mad",
    (s, dir) => madOverCounts(
      events(s, dir)
        .groupBy(date_format(col("ts_t"), "yyyy-MM-dd").as("day"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"))),
    Some("""WITH daily AS (
      |  SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
      |         CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2
      |), r1 AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |                            ORDER BY n_events, day) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily
      |), med AS (
      |  SELECT event_type, n_events AS med FROM r1 WHERE rn = (n + 1) // 2
      |), d AS (
      |  SELECT daily.*, med.med, ABS(daily.n_events - med.med) AS adev
      |  FROM daily JOIN med ON daily.event_type = med.event_type
      |), r2 AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |                            ORDER BY adev, day) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM d
      |), mad AS (
      |  SELECT event_type, adev AS mad FROM r2 WHERE rn = (n + 1) // 2
      |)
      |SELECT d.day, d.event_type, d.n_events,
      |       CAST(d.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
      |       CAST(10000 * d.adev > 29652 * mad.mad AS INT) AS is_outlier
      |FROM d JOIN mad ON d.event_type = mad.event_type""".stripMargin)
  )

  /** [[qOutlierMad]]'s body over an ARBITRARY `(day, event_type,
    * n_events)` daily-count frame — the spec's seam. */
  private[graft] def madOverCounts(daily: DataFrame): DataFrame = {
    val wT = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    // ranked lower-middle element per type, broadcast back via window max
    val wOrd1 = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n_events").asc, col("day").asc)
    val withMed = daily
      .withColumn("__rn", row_number().over(wOrd1).cast("long"))
      .withColumn("__n", count(lit(1)).over(wT))
      .withColumn("med",
        max(when(col("__rn") === expr("(__n + 1) div 2"), col("n_events")))
          .over(wT))
      .drop("__rn", "__n")
      .withColumn("adev", abs(col("n_events") - col("med")))
    val wOrd2 = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("adev").asc, col("day").asc)
    withMed
      .withColumn("__rn", row_number().over(wOrd2).cast("long"))
      .withColumn("__n", count(lit(1)).over(wT))
      .withColumn("mad",
        max(when(col("__rn") === expr("(__n + 1) div 2"), col("adev")))
          .over(wT))
      .select(col("day"), col("event_type"), col("n_events"), col("med"),
              col("mad"),
              (lit(10000L) * col("adev") > lit(29652L) * col("mad"))
                .cast("int").as("is_outlier"))
  }

  /**
   * Daily-volume TREND per event type — least-squares slope over (day
   * index, count), emitted as the EXACT RATIONAL it is: numerator
   * n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² as integers, plus the
   * direction sign. Emitting the ratio as a float would trade the
   * whole pipeline's engine-exactness for one division the consumer
   * can do (or compare cross-multiplied, as [[qAnomalyDaily]] does);
   * the rational IS the slope, losslessly. Day index is
   * days-since-first-day per type — calendar-gap-aware, not a dense
   * rank. One map-combined aggregate over the day×type domain.
   */
  val qTrendDaily = Q(
    "q_trend_daily",
    (s, dir) => {
      val wT = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      events(s, dir)
        .groupBy(to_date(col("ts_t")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("y"))
        .withColumn("x", datediff(col("day"), min("day").over(wT)).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
             (count(lit(1)) * sum(col("x") * col("y")) -
                sum(col("x")) * sum(col("y"))).as("trend_num"),
             (count(lit(1)) * sum(col("x") * col("x")) -
                sum(col("x")) * sum(col("x"))).as("trend_den"))
        .withColumn("direction",
          when(col("trend_num") > 0, 1)
            .when(col("trend_num") < 0, -1).otherwise(0))
    },
    Some("""WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |         CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), xi AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', MIN(day) OVER (PARTITION BY event_type),
      |                        day) AS BIGINT) AS x,
      |         y
      |  FROM daily
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |       CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
      |         AS trend_num,
      |       CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT)
      |         AS trend_den,
      |       CAST(CASE WHEN COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) > 0 THEN 1
      |                 WHEN COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) < 0 THEN -1
      |                 ELSE 0 END AS INT) AS direction
      |FROM xi GROUP BY event_type""".stripMargin)
  )

  /**
   * A/B-TEST SIGNIFICANCE — the experimentation read-out: users split
   * into two arms by id parity (the deployment substitutes its real
   * assignment column), and for each event type the 2×2 contingency
   * (did/didn't × arm) is chi-square tested at α = 0.05: the
   * cross-multiplied comparison 10⁶·N·(ad−bc)² > 3841459·(a+b)(c+d)
   * (a+c)(b+d), evaluated in DOUBLE through the IDENTICAL expression
   * tree on both sides of the gate — every op is IEEE
   * correctly-rounded, so the verdict is engine-deterministic at ANY
   * population (an integer formulation is bit-exact but overflows
   * 64-bit at ~10⁶ users and decimal(38) at ~5·10⁶; a divided-out
   * float χ² aggregated in engine-specific order is deterministic in
   * neither). Output keeps the raw cell counts — the consumer can
   * recompute any statistic; the engine ships the verdict.
   *
   * Shape: one distinct (user, type) pass (map-combined), one tiny
   * per-type aggregate, one broadcast of the 2-row arm totals.
   *
   * Degenerate tables are DEFINED, not accidental: cells build from
   * the full event_type × arm grid (both arms pinned as literal rows,
   * doer counts coalesced to 0), so a type with doers in only one arm
   * — or an arm with zero users entirely — still yields four non-null
   * cells. Any zero marginal then makes ad−bc = 0, so the χ²
   * comparison reads 0 > 0 and the verdict is `significant = 0`
   * (correct: a degenerate 2×2 carries no evidence), never a silently
   * NULL verdict for exactly the extreme-imbalance rows a reader of
   * this table cares most about.
   */
  val qAbSignificance = Q(
    "q_ab_significance",
    (s, dir) => {
      val ev = events(s, dir)
      val users = ev.select(col("user_id")).distinct()
        .withColumn("grp", (col("user_id") % 2).cast("int"))
      val totals = users.groupBy("grp").agg(count(lit(1)).as("n_grp"))
      // both arms as literal rows: an arm with ZERO users would be
      // absent from `totals` and its grid half would vanish otherwise
      val arms = s.range(2).select(col("id").cast("int").as("grp"))
        .join(totals, Seq("grp"), "left")
        .na.fill(0L, Seq("n_grp"))
      val did = ev.select(col("user_id"), col("event_type")).distinct()
        .withColumn("grp", (col("user_id") % 2).cast("int"))
        .groupBy("event_type", "grp").agg(count(lit(1)).as("n_did"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(arms))
      // NULL-SAFE on event_type: distinct() keeps a NULL type as a real
      // group, and an equality join would never match it back to its
      // did row — silently zeroing the NULL group's true doer counts
      // on BOTH faces (gate-invisible, since the oracle would share the
      // hole; round-14 review finding)
      val didR = did.withColumnRenamed("event_type", "d_type")
        .withColumnRenamed("grp", "d_grp")
      val cells = grid
        .join(didR, col("event_type") <=> col("d_type") &&
                    col("grp") === col("d_grp"), "left")
        .na.fill(0L, Seq("n_did"))
        .groupBy("event_type")
        .agg(
          sum(when(col("grp") === 0, col("n_did"))).as("a"),
          sum(when(col("grp") === 0, col("n_grp") - col("n_did"))).as("b"),
          sum(when(col("grp") === 1, col("n_did"))).as("c"),
          sum(when(col("grp") === 1, col("n_grp") - col("n_did"))).as("d"))
      // DOUBLE, not decimal(38): the decimal cross-product overflows 38
      // digits at ~5 M users (silent NULL in Spark, loud error in
      // DuckDB). Doubles never overflow at these magnitudes, and the
      // BM25 determinism argument applies — +,−,×,> are IEEE
      // correctly-rounded, so the IDENTICAL expression tree over the
      // same exact integer cells yields the same verdict in any engine;
      // a boundary flip from rounding happens identically on both sides
      // of the gate.
      val dbl = (c: String) => col(c).cast("double")
      cells.select(
        col("event_type"), col("a"), col("b"), col("c"), col("d"),
        ((lit(1000000.0) *
            (dbl("a") + dbl("b") + dbl("c") + dbl("d")) *
            (dbl("a") * dbl("d") - dbl("b") * dbl("c")) *
            (dbl("a") * dbl("d") - dbl("b") * dbl("c"))) >
           (lit(3841459.0) *
              (dbl("a") + dbl("b")) * (dbl("c") + dbl("d")) *
              (dbl("a") + dbl("c")) * (dbl("b") + dbl("d"))))
          .cast("int").as("significant"))
    },
    Some("""WITH users AS (
      |  SELECT DISTINCT user_id, CAST(user_id % 2 AS INT) AS grp FROM events
      |), totals AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_grp FROM users GROUP BY grp
      |), arms AS (
      |  SELECT g.grp, COALESCE(n_grp, 0) AS n_grp
      |  FROM (VALUES (CAST(0 AS INT)), (CAST(1 AS INT))) g(grp)
      |  LEFT JOIN totals ON g.grp = totals.grp
      |), did AS (
      |  SELECT event_type, CAST(user_id % 2 AS INT) AS grp,
      |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_did
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  -- IS NOT DISTINCT FROM: a NULL event_type is a real group and
      |  -- must match its did row (mirrors the Spark face's <=>)
      |  SELECT t.event_type, arms.grp, arms.n_grp,
      |         COALESCE(n_did, 0) AS n_did
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN arms
      |  LEFT JOIN did ON t.event_type IS NOT DISTINCT FROM did.event_type
      |               AND arms.grp = did.grp
      |), cells AS (
      |  SELECT event_type,
      |         CAST(SUM(CASE WHEN grp = 0 THEN n_did END) AS BIGINT) AS a,
      |         CAST(SUM(CASE WHEN grp = 0 THEN n_grp - n_did END) AS BIGINT) AS b,
      |         CAST(SUM(CASE WHEN grp = 1 THEN n_did END) AS BIGINT) AS c,
      |         CAST(SUM(CASE WHEN grp = 1 THEN n_grp - n_did END) AS BIGINT) AS d
      |  FROM grid
      |  GROUP BY event_type
      |)
      |SELECT event_type, a, b, c, d,
      |       CAST(1000000.0
      |              * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
      |                 + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
      |              * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |                 - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
      |              * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |                 - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
      |            > 3841459.0
      |              * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
      |              * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
      |              * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
      |              * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) AS INT)
      |         AS significant
      |FROM cells""".stripMargin)
  )

  /**
   * RUN-LENGTH ENCODING of the per-user event-type stream — the
   * VALUE-CHANGE variant of gaps-and-islands (sessions split on time
   * gaps; runs split on the dimension changing): each maximal stretch
   * of consecutive same-type events becomes one row with its span and
   * length. The state-compression primitive behind SCD-style interval
   * tables, "how long did the user stay in state X", and
   * repeated-event collapse before sequence mining. Same one-exchange
   * shape as [[Sessionize]]: a `lag` marks change points, a running
   * sum over the SAME per-user sort numbers the runs (one window sort,
   * two frames), and the aggregate is map-side combinable on the
   * (user, run) key. (ts, event_id) is a total order, so runs are
   * deterministic under ties.
   */
  val qRunLength = Q(
    "q_run_length",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      val wRun = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
                col("event_type"))
        .withColumn("chg",
          (lag("event_type", 1).over(w).isNull ||
             lag("event_type", 1).over(w) =!= col("event_type")).cast("long"))
        .withColumn("run_id", sum("chg").over(wRun))
        .groupBy("user_id", "run_id")
        .agg(min("ts_us").as("run_start_us"),
             max("ts_us").as("run_end_us"),
             // constant within a run by construction; min is just the
             // aggregate form of "the" value
             min("event_type").as("event_type"),
             count(lit(1)).as("run_len"))
    },
    Some("""WITH o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |         CASE WHEN LAG(event_type) OVER w IS NULL
      |                OR LAG(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), r AS (
      |  SELECT *,
      |         CAST(SUM(chg) OVER (PARTITION BY user_id
      |                             ORDER BY ts_us, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING
      |                             AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM o
      |)
      |SELECT user_id, run_id,
      |       MIN(ts_us) AS run_start_us, MAX(ts_us) AS run_end_us,
      |       MIN(event_type) AS event_type,
      |       CAST(COUNT(*) AS BIGINT) AS run_len
      |FROM r GROUP BY user_id, run_id""".stripMargin)
  )

  val all: Seq[Q] = Seq(
    qSessionize, qHitsEnriched, qFunnel, qVisitorsRaw, qVisitorsDedup,
    qParseExtract, qVisitStats, qCsvFormat, qFunnelOrdered, qRetention,
    qAggSalted, qPivot, qGapFill, qTransitionMatrix, qTopPaths, qEntryExit,
    qWindowRolling, qAnomalyDaily, qRfmSegments, qJsonExtract,
    qAttribution, qFunnelWindowed, qOutlierMad, qTrendDaily,
    qAbSignificance, qRunLength, qFirstTouch
  )
}
