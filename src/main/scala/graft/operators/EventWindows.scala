package graft.operators

import graft.QueryDef
import graft.det._
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time windowing over the `events` table — the batch formulation
  * of the Structured Streaming operators in `graft.streaming` (same
  * `window`/`session_window` expressions run under `readStream`).
  * Window starts are emitted as epoch seconds (BIGINT) — raw timestamps
  * don't round-trip identically between Spark (µs) and DuckDB (ns).
  */
object EventWindows {

  /** Each event with `t` (unix seconds) and `session_no`: per user, in
    * event_id order, a new session starts after a gap of more than
    * 1800 s (gaps-and-islands over a lag window). */
  private def gapSessions(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.withColumn("t", unix_timestamp(col("ts")))
      .withColumn("prev_t", lag(col("t"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_t").isNull || col("t") - col("prev_t") > 1800, 1).otherwise(0))
      .withColumn("session_no",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user sessions from the native `session_window` over whole-second
    * timestamps with gap `gap`: start, event count and value sum. */
  private def nativeSessions(ev: DataFrame, gap: Column): DataFrame =
    ev.withColumn("tsec", timestamp_seconds(unix_timestamp(col("ts"))))
      .groupBy(col("user_id"), session_window(col("tsec"), gap))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("value_sum"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("value_sum"))
      .orderBy(col("user_id"), col("session_start"))

  /** SQL mirror of [[nativeSessions]]' numbering and readout over a
    * `flagged(user_id, event_id, value, t, is_new)` CTE. */
  private def sqlNativeSessionTail: String = s"""sessions AS (
          SELECT user_id, value, t,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
          FROM flagged)
        SELECT user_id, MIN(t) AS session_start, COUNT(*) AS n_events,
               ${sqlSum("value")} AS value_sum
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_start"""

  val defs: Seq[QueryDef] = Seq(

    // Tumbling 1-hour windows per event type.
    QueryDef(
      "ev_tumbling_window",
      Some(s"""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
               event_type, COUNT(*) AS n, ${sqlSum("value")} AS value_sum
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """.trim),
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"), dsum($"value").as("value_sum"))
          .select(unix_timestamp($"window.start").as("window_start"),
            $"event_type", $"n", $"value_sum")
          .orderBy($"window_start", $"event_type")
      }),

    // Sliding 1-hour windows every 30 minutes (each event lands in 2).
    QueryDef(
      "ev_sliding_window",
      Some(s"""
        SELECT window_start, COUNT(*) AS n, ${sqlSum("value")} AS value_sum
        FROM (
          SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 - o * 1800 AS window_start, value
          FROM events, range(0, 2) t(o))
        GROUP BY 1
        ORDER BY 1
      """.trim),
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy(window($"ts", "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"), dsum($"value").as("value_sum"))
          .select(unix_timestamp($"window.start").as("window_start"), $"n", $"value_sum")
          .orderBy($"window_start")
      }),

    // Session windows: 30-minute inactivity gap per user. The oracle is
    // the classic gaps-and-islands formulation; Spark uses the native
    // session_window operator.
    QueryDef(
      "ev_session_window",
      Some(s"""
        WITH ordered AS (
          SELECT user_id, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS t,
                 LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_t
          FROM events),
        flagged AS (
          SELECT user_id, event_id, value, t,
                 CASE WHEN prev_t IS NULL OR t - prev_t > 1800 THEN 1 ELSE 0 END AS is_new
          FROM ordered),
        sessions AS (
          SELECT user_id, event_id, value, t,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
          FROM flagged)
        SELECT user_id, session_no, COUNT(*) AS n_events,
               MIN(t) AS session_start, MAX(t) AS session_end,
               ${sqlSum("value")} AS value_sum
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_no
      """.trim),
      (s, d) => {
        import s.implicits._
        gapSessions(events(s, d))
          .groupBy($"user_id", $"session_no")
          .agg(count(lit(1)).as("n_events"),
            min($"t").as("session_start"), max($"t").as("session_end"),
            dsum($"value").as("value_sum"))
          .orderBy($"user_id", $"session_no")
      }),

    // The NATIVE session_window operator (the exact expression the
    // streaming path runs under readStream), pinned by the same
    // gaps-and-islands oracle. Two alignment subtleties vs the oracle's
    // integer-second model: (1) timestamps are truncated to whole
    // seconds before windowing (the oracle compares floor(epoch)
    // seconds); (2) session_window merges on a CLOSED interval (an
    // event landing exactly gap seconds after the previous one extends
    // the session), which matches the oracle's "new only when the gap
    // EXCEEDS 1800 s" with gap = 1800 exactly.
    QueryDef(
      "ev_session_window_native",
      Some(s"""
        WITH ordered AS (
          SELECT user_id, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS t,
                 LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id) AS prev_t
          FROM events),
        flagged AS (
          SELECT user_id, event_id, value, t,
                 CASE WHEN prev_t IS NULL OR t - prev_t > 1800 THEN 1 ELSE 0 END AS is_new
          FROM ordered),
        $sqlNativeSessionTail
      """.trim),
      (s, d) => {
        nativeSessions(events(s, d), lit("1800 seconds"))
      }),

    // DYNAMIC-gap session windows: each event extends its session by a
    // gap that depends on the event itself (purchases hold a session
    // open for an hour, everything else 15 minutes) — the native
    // `session_window(ts, gapExpr)` form. The oracle is an independent
    // formulation of Spark's EXACT merge semantics: an event joins the
    // current session iff its time is AT OR before the running MAX of
    // (member time + member gap) — a windowed running max instead of
    // the static twin's lag-diff. The boundary is INCLUSIVE (t ==
    // session end merges): verified empirically at sf0.1, where two
    // exact-boundary events split under a strict formulation and
    // merged under Spark — matching the static twin's `diff > gap`
    // convention.
    QueryDef(
      "ev_session_dynamic",
      Some(s"""
        WITH ordered AS (
          SELECT user_id, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS t,
                 CASE WHEN event_type = 'purchase' THEN 3600 ELSE 900 END AS gap
          FROM events),
        ends AS (
          SELECT user_id, event_id, value, t,
                 MAX(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM ordered),
        flagged AS (
          SELECT user_id, event_id, value, t,
                 CASE WHEN prev_end IS NULL OR t > prev_end THEN 1 ELSE 0 END AS is_new
          FROM ends),
        $sqlNativeSessionTail
      """.trim),
      (s, d) => {
        nativeSessions(events(s, d),
          when(col("event_type") === "purchase", "3600 seconds").otherwise("900 seconds"))
      }),

    // Session-shape histogram: how long are sessions, in events and in
    // wall seconds? Built on the same gaps-and-islands chain as
    // ev_session_window, then ONE more aggregation from session rows
    // (|sessions| ≪ |events|) to histogram rows — all-integer, the
    // engagement-distribution readout an events pipeline reports.
    QueryDef(
      "ev_session_stats",
      Some("""
        WITH ordered AS (
          SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS t,
                 LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_t
          FROM events),
        flagged AS (
          SELECT user_id, event_id, t,
                 CASE WHEN prev_t IS NULL OR t - prev_t > 1800 THEN 1 ELSE 0 END AS is_new
          FROM ordered),
        sessions AS (
          SELECT user_id, t,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
          FROM flagged),
        per_session AS (
          SELECT user_id, session_no,
                 COUNT(*) AS n_events, MAX(t) - MIN(t) AS dur_s
          FROM sessions GROUP BY user_id, session_no)
        SELECT CAST(n_events AS BIGINT) AS session_len,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
               CAST(MAX(dur_s) AS BIGINT) AS max_dur_s
        FROM per_session
        GROUP BY n_events
        ORDER BY session_len
      """.trim),
      (s, d) => {
        import s.implicits._
        gapSessions(events(s, d))
          .groupBy($"user_id", $"session_no")
          .agg(count(lit(1)).as("n_events"),
            (max($"t") - min($"t")).as("dur_s"))
          .groupBy($"n_events")
          .agg(count(lit(1)).as("n_sessions"),
            sum($"dur_s").as("total_dur_s"),
            max($"dur_s").as("max_dur_s"))
          .select($"n_events".as("session_len"), $"n_sessions", $"total_dur_s", $"max_dur_s")
          .orderBy($"session_len")
      })
  )
}
