package graft.operators

import graft.{det, QueryDef}
import graft.sources.Tables.events
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the events stream table: staged
  * funnel conversion, cohort retention, and ordered-path mining — the
  * product-analytics operators a telemetry pipeline runs at scale.
  *
  * Timestamps are compared at SECOND granularity on both engines
  * (Spark `unix_timestamp` floors; the oracle uses
  * `CAST(floor(epoch(ts)) AS BIGINT)`) because the parquet carries
  * nanosecond timestamps that Spark reads at microseconds — comparing
  * at a shared granularity with an `event_id` tiebreak keeps every
  * ordering decision identical across engines.
  */
object Analytics {

  /** Per-user event-type bigrams `(prev_type, event_type, cnt)`: one
    * lag() pass over each user's events in (ts second, event_id) order,
    * counting the rows that pass `keep`. */
  private[operators] def transitionCounts(ev: DataFrame, keep: Column): DataFrame = {
    val uw = Window.partitionBy(col("user_id"))
      .orderBy(unix_timestamp(col("ts")), col("event_id"))
    ev.select(col("event_type"), lag(col("event_type"), 1).over(uw).as("prev_type"))
      .filter(keep)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** SQL mirror of [[transitionCounts]], `keep` a condition on
    * `prev_type`: the `seq` and `t` CTEs. */
  private[operators] def sqlTransitionCounts(keep: String): String = s"""seq AS (
          SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_type
          FROM events),
        t AS (
          SELECT prev_type, event_type, COUNT(*) AS cnt
          FROM seq WHERE $keep
          GROUP BY prev_type, event_type)"""

  val defs: Seq[QueryDef] = Seq(
    // Staged funnel: users who viewed; clicked at-or-after their first
    // view; purchased at-or-after that first qualifying click. Each
    // stage is a groupBy + join of per-user firsts — the per-stage
    // frames shrink monotonically and broadcast under AQE; nothing
    // scans events more than the three type-pruned passes.
    QueryDef(
      "ev_funnel",
      Some("""
        WITH e AS (SELECT user_id, event_type,
                          CAST(floor(epoch(ts)) AS BIGINT) AS tse FROM events),
        v AS (SELECT user_id, MIN(tse) AS v_ts FROM e
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.tse) AS c_ts FROM e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.tse >= v.v_ts GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.tse) AS p_ts FROM e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.tse >= c.c_ts GROUP BY e.user_id)
        SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM v
        UNION ALL
        SELECT '2_click' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM c
        UNION ALL
        SELECT '3_purchase' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM p
        ORDER BY stage
      """.trim),
      (s, d) => {
        import s.implicits._
        val ev = events(s, d)
          .select($"user_id", $"event_type", unix_timestamp($"ts").as("tse"))
        val v = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"tse").as("v_ts"))
        val c = ev.filter($"event_type" === "click")
          .join(v, "user_id").filter($"tse" >= $"v_ts")
          .groupBy($"user_id").agg(min($"tse").as("c_ts"))
        val p = ev.filter($"event_type" === "purchase")
          .join(c, "user_id").filter($"tse" >= $"c_ts")
          .groupBy($"user_id").agg(min($"tse").as("p_ts"))
        v.agg(count(lit(1)).as("users")).select(lit("1_view").as("stage"), $"users")
          .unionByName(c.agg(count(lit(1)).as("users"))
            .select(lit("2_click").as("stage"), $"users"))
          .unionByName(p.agg(count(lit(1)).as("users"))
            .select(lit("3_purchase").as("stage"), $"users"))
          .orderBy($"stage")
      }),

    // Cohort retention: signup-day cohorts × active-day offsets. The
    // distinct (user, day) activity set and the cohort frame both
    // reduce before the join — at scale this is two shuffles on
    // user_id and one on the (cohort, offset) output key.
    QueryDef(
      "ev_retention",
      Some("""
        WITH s AS (SELECT user_id,
                          MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort
                   FROM events WHERE event_type = 'signup' GROUP BY user_id),
        a AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
              FROM events)
        SELECT CAST(s.cohort AS VARCHAR) AS cohort_day,
               CAST(date_diff('day', s.cohort, a.d) AS BIGINT) AS day_offset,
               CAST(COUNT(*) AS BIGINT) AS users
        FROM s JOIN a ON s.user_id = a.user_id
        WHERE date_diff('day', s.cohort, a.d) >= 0
        GROUP BY 1, 2
        ORDER BY 1, 2
      """.trim),
      (s, d) => {
        import s.implicits._
        val ev = events(s, d)
        val cohorts = ev.filter($"event_type" === "signup")
          .groupBy($"user_id")
          .agg(min(to_date(date_trunc("DAY", $"ts"))).as("cohort"))
        val active = ev
          .select($"user_id", to_date(date_trunc("DAY", $"ts")).as("d"))
          .distinct()
        cohorts.join(active, "user_id")
          .filter(datediff($"d", $"cohort") >= 0)
          .groupBy($"cohort".cast("string").as("cohort_day"),
            datediff($"d", $"cohort").cast("long").as("day_offset"))
          .agg(count(lit(1)).as("users"))
          .orderBy($"cohort_day", $"day_offset")
      }),

    // Ordered path mining: each user's first three events (by time,
    // event_id tiebreak) as a ">"-joined path, counted per distinct
    // path. One groupBy(user) with an in-memory sort of that user's
    // events, one groupBy(path) — no window over the global stream.
    QueryDef(
      "ev_user_paths",
      Some("""
        WITH r AS (SELECT user_id, event_type,
                          ROW_NUMBER() OVER (
                            PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
                   FROM events),
        paths AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
                  FROM r WHERE rn <= 3 GROUP BY user_id)
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n
        FROM paths GROUP BY path
        ORDER BY n DESC, path
      """.trim),
      (s, d) => {
        import s.implicits._
        events(s, d)
          .select($"user_id",
            struct(unix_timestamp($"ts").as("tse"), $"event_id", $"event_type").as("e"))
          .groupBy($"user_id")
          .agg(array_join(
            transform(slice(array_sort(collect_list($"e")), 1, 3),
              x => x.getField("event_type")), ">").as("path"))
          .groupBy($"path")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"path")
      }),

    // Per-user z-score anomaly counts. The moments come from exact
    // DECIMAL sums (sum, sum-of-squares) so mean/stddev are
    // bit-identical across partitionings and engines; the z-test then
    // re-joins the (small) per-user moment table to the stream — one
    // groupBy + one broadcast-size join at any scale.
    QueryDef(
      "ev_anomaly",
      Some(s"""
        WITH s AS (
          SELECT user_id, COUNT(*) AS n,
                 ${det.sqlSum("value")} AS sv,
                 ${det.sqlSum("value * value", 6)} AS sv2
          FROM events GROUP BY user_id),
        m AS (
          SELECT user_id, n, sv / n AS mean,
                 sqrt(GREATEST(sv2 / n - (sv / n) * (sv / n), CAST(0 AS DOUBLE))) AS sd
          FROM s)
        SELECT m.user_id,
               CAST(m.n AS BIGINT) AS n_events,
               CAST(COUNT(CASE WHEN m.sd > 0
                                AND abs(e.value - m.mean) / m.sd > 2
                               THEN 1 END) AS BIGINT) AS n_outliers
        FROM events e JOIN m ON e.user_id = m.user_id
        GROUP BY m.user_id, m.n
        ORDER BY m.user_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val ev = events(s, d).select($"user_id", $"value")
        val moments = ev.groupBy($"user_id")
          .agg(count(lit(1)).as("n"),
            det.dsum($"value").as("sv"),
            det.dsum($"value" * $"value", 6).as("sv2"))
          .select($"user_id", $"n",
            ($"sv" / $"n").as("mean"),
            sqrt(greatest($"sv2" / $"n" - ($"sv" / $"n") * ($"sv" / $"n"),
              lit(0.0))).as("sd"))
        ev.join(moments, "user_id")
          .groupBy($"user_id", $"n")
          .agg(count(when($"sd" > 0 && abs($"value" - $"mean") / $"sd" > 2, 1))
            .as("n_outliers"))
          .select($"user_id", $"n".as("n_events"), $"n_outliers")
          .orderBy($"user_id")
      }),

    // ------------------------------------------------------------ markov
    // First-order event-type transition matrix: per-user bigrams from
    // one lag() window pass (shuffle on user_id only), then a global
    // count — the sequence-model sufficient statistic. Probabilities
    // are cnt/row_total as one exact IEEE division (long operands →
    // identical doubles in both engines, no decimal routing needed).
    QueryDef(
      "ev_markov",
      Some(s"""
        WITH ${sqlTransitionCounts("prev_type IS NOT NULL")}
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(cnt AS BIGINT) AS cnt,
               CAST(cnt AS DOUBLE) /
                 CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS prob
        FROM t
        ORDER BY from_type, to_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val t = transitionCounts(events(s, d), $"prev_type".isNotNull)
        t.select(
            $"prev_type".as("from_type"), $"event_type".as("to_type"), $"cnt",
            ($"cnt".cast("double") /
              sum($"cnt").over(Window.partitionBy($"prev_type"))).as("prob"))
          .orderBy($"from_type", $"to_type")
      }),

    // ------------------------------------------------------------ abtest
    // Welch's t-statistic between two user cohorts (user_id parity as
    // the deterministic variant split): ONE conditional aggregation
    // pass collects both cohorts' decimal moment sums, then the
    // statistic is pure double arithmetic over identical operands in
    // both engines — experimentation analytics with a hash-checkable
    // answer, no RNG anywhere.
    QueryDef(
      "ev_ab_ttest",
      Some(s"""
        WITH m AS (
          SELECT
            CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n0,
            CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n1,
            ${det.sqlSum("CASE WHEN user_id % 2 = 0 THEN value END")} AS sv0,
            ${det.sqlSum("CASE WHEN user_id % 2 = 1 THEN value END")} AS sv1,
            ${det.sqlSum("CASE WHEN user_id % 2 = 0 THEN value * value END", 6)} AS sq0,
            ${det.sqlSum("CASE WHEN user_id % 2 = 1 THEN value * value END", 6)} AS sq1
          FROM events)
        SELECT n0, n1,
               sv0 / n0 AS mean0, sv1 / n1 AS mean1,
               (sq0 - sv0 * sv0 / n0) / (n0 - 1) AS var0,
               (sq1 - sv1 * sv1 / n1) / (n1 - 1) AS var1,
               (sv0 / n0 - sv1 / n1)
                 / sqrt((sq0 - sv0 * sv0 / n0) / (n0 - 1) / n0
                        + (sq1 - sv1 * sv1 / n1) / (n1 - 1) / n1) AS t_stat
        FROM m
      """.trim),
      (s, d) => {
        import s.implicits._
        val m = events(s, d).agg(
          count(when($"user_id" % 2 === 0, 1)).as("n0"),
          count(when($"user_id" % 2 === 1, 1)).as("n1"),
          det.dsum(when($"user_id" % 2 === 0, $"value")).as("sv0"),
          det.dsum(when($"user_id" % 2 === 1, $"value")).as("sv1"),
          det.dsum(when($"user_id" % 2 === 0, $"value" * $"value"), 6).as("sq0"),
          det.dsum(when($"user_id" % 2 === 1, $"value" * $"value"), 6).as("sq1"))
        m.select($"n0", $"n1",
          ($"sv0" / $"n0").as("mean0"), ($"sv1" / $"n1").as("mean1"),
          (($"sq0" - $"sv0" * $"sv0" / $"n0") / ($"n0" - 1)).as("var0"),
          (($"sq1" - $"sv1" * $"sv1" / $"n1") / ($"n1" - 1)).as("var1"),
          (($"sv0" / $"n0" - $"sv1" / $"n1")
            / sqrt(($"sq0" - $"sv0" * $"sv0" / $"n0") / ($"n0" - 1) / $"n0"
              + ($"sq1" - $"sv1" * $"sv1" / $"n1") / ($"n1" - 1) / $"n1")).as("t_stat"))
      }),

    // Winsorization — the robust-scaling feature-prep staple: clamp
    // each value to its group's [p05, p95] band and report how much
    // mass the tails carried. The percentile bounds are interpolated
    // MANUALLY on both engines with the identical expression tree
    // (rank the group, i = floor((n-1)p), bound = v[i] +
    // frac·(v[i+1]−v[i])) rather than via percentile/quantile_cont:
    // the built-ins agree to the last ulp only usually, and one ulp on
    // a bound flips a clamp for any value sitting exactly on it (seen
    // at sf0.001). Same shape at scale: one ranking window per group,
    // a |groups|-row broadcast, row-local clamps, DECIMAL-routed sums.
    QueryDef(
      "ev_winsorize",
      Some(s"""
        WITH ranked AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events),
        nb AS (
          -- CAST(... AS DOUBLE) on the literals: DuckDB parses 0.95 as
          -- DECIMAL and would interpolate exactly where Spark works in
          -- IEEE double; the cast makes both engines run the identical
          -- double expression tree
          SELECT event_type, n,
                 CAST(floor((n - 1) * CAST(0.05 AS DOUBLE)) AS BIGINT) AS f05,
                 (n - 1) * CAST(0.05 AS DOUBLE) - floor((n - 1) * CAST(0.05 AS DOUBLE)) AS r05,
                 CAST(floor((n - 1) * CAST(0.95 AS DOUBLE)) AS BIGINT) AS f95,
                 (n - 1) * CAST(0.95 AS DOUBLE) - floor((n - 1) * CAST(0.95 AS DOUBLE)) AS r95
          FROM (SELECT DISTINCT event_type, n FROM ranked)),
        b0 AS (
          SELECT r.event_type,
                 MAX(CASE WHEN rn = f05 + 1 THEN value END)
                   + MAX(r05) * (COALESCE(MAX(CASE WHEN rn = f05 + 2 THEN value END),
                                          MAX(CASE WHEN rn = f05 + 1 THEN value END))
                                 - MAX(CASE WHEN rn = f05 + 1 THEN value END)) AS lo0,
                 MAX(CASE WHEN rn = f95 + 1 THEN value END)
                   + MAX(r95) * (COALESCE(MAX(CASE WHEN rn = f95 + 2 THEN value END),
                                          MAX(CASE WHEN rn = f95 + 1 THEN value END))
                                 - MAX(CASE WHEN rn = f95 + 1 THEN value END)) AS hi0
          FROM ranked r JOIN nb ON r.event_type = nb.event_type
          WHERE rn IN (f05 + 1, f05 + 2, f95 + 1, f95 + 2)
          GROUP BY r.event_type),
        -- bounds snapped to exact cents in pure IEEE double ops
        -- (floor(x*100+0.5)/100): an interpolated bound can land within
        -- an ulp of a 2-decimal midpoint, where Spark's and DuckDB's
        -- double->DECIMAL casts round opposite ways; a snapped bound is
        -- never near a midpoint, so the later cast is exact on both
        b AS (
          SELECT event_type,
                 floor(lo0 * 100 + 0.5) / 100 AS lo,
                 floor(hi0 * 100 + 0.5) / 100 AS hi
          FROM b0)
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 END) AS BIGINT) AS n_clamped,
               ${det.sqlSum("CASE WHEN e.value < b.lo THEN b.lo WHEN e.value > b.hi THEN b.hi ELSE e.value END")} AS winsorized_sum,
               ${det.sqlSum("e.value")} AS raw_sum
        FROM events e JOIN b ON e.event_type = b.event_type
        GROUP BY e.event_type
        ORDER BY e.event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type").orderBy($"value")
        val cw = Window.partitionBy($"event_type")
        val ranked = events(s, d)
          .select($"event_type", $"value")
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(cw))
        val nb = ranked.select($"event_type", $"n").distinct()
          .select($"event_type",
            floor(($"n" - 1) * lit(0.05)).as("f05"),
            (($"n" - 1) * lit(0.05) - floor(($"n" - 1) * lit(0.05))).as("r05"),
            floor(($"n" - 1) * lit(0.95)).as("f95"),
            (($"n" - 1) * lit(0.95) - floor(($"n" - 1) * lit(0.95))).as("r95"))
        def interp(f: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) = {
          val va = max(when($"rn" === f + 1, $"value"))
          val vb = coalesce(max(when($"rn" === f + 2, $"value")), va)
          va + max(r) * (vb - va)
        }
        def snap(c: org.apache.spark.sql.Column) = floor(c * 100 + 0.5) / 100
        val b = ranked.join(broadcast(nb), "event_type")
          .filter($"rn" === $"f05" + 1 || $"rn" === $"f05" + 2 ||
            $"rn" === $"f95" + 1 || $"rn" === $"f95" + 2)
          .groupBy($"event_type")
          .agg(snap(interp($"f05", $"r05")).as("lo"), snap(interp($"f95", $"r95")).as("hi"))
        events(s, d).join(broadcast(b), "event_type")
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n"),
            count(when($"value" < $"lo" || $"value" > $"hi", 1)).as("n_clamped"),
            det.dsum(when($"value" < $"lo", $"lo")
              .when($"value" > $"hi", $"hi")
              .otherwise($"value")).as("winsorized_sum"),
            det.dsum($"value").as("raw_sum"))
          .orderBy($"event_type")
      }),

    // Last-touch attribution: every purchase credits the most recent
    // click (≤ its timestamp; same-second clicks attribute via the
    // kind tiebreak) of the same user, rolled up by the click's channel
    // (props.k mod 4; -1 = no preceding click). One type-pruned scan,
    // one per-user window (hash-partitioned on user_id — per-user
    // streams are short and bounded, so the sort is local and
    // skew-free), one tiny rollup. The `last(ch) ignoreNulls` running
    // carry is the standard as-of-join-by-window trick: no self-join,
    // no range explosion, scale-invariant per user.
    QueryDef(
      "ev_attribution",
      Some(s"""
        WITH e AS (
          SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tse,
                 event_id, value,
                 CAST(json_extract_string(props, '$$.k') AS BIGINT) % 4 AS ch0
          FROM events
          WHERE event_type IN ('click', 'purchase')),
        s AS (
          SELECT user_id, tse, event_id, value,
                 CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
                 CASE WHEN event_type = 'click' THEN ch0 END AS ch
          FROM e),
        a AS (
          SELECT user_id, event_id, value, kind,
                 last_value(ch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY tse, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel
          FROM s)
        SELECT COALESCE(channel, -1) AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               ${det.sqlSum("value")} AS attributed_value
        FROM a WHERE kind = 1
        GROUP BY 1
        ORDER BY 1
      """.trim),
      (s, d) => {
        import s.implicits._
        val stream = events(s, d)
          .filter($"event_type".isin("click", "purchase"))
          .select($"user_id", unix_timestamp($"ts").as("tse"), $"event_id", $"value",
            when($"event_type" === "click", 0).otherwise(1).as("kind"),
            when($"event_type" === "click",
              get_json_object($"props", "$.k").cast("long") % 4).as("ch"))
        val w = Window.partitionBy($"user_id").orderBy($"tse", $"kind", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        stream
          .withColumn("channel", last($"ch", ignoreNulls = true).over(w))
          .filter($"kind" === 1)
          .groupBy(coalesce($"channel", lit(-1L)).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            det.dsum($"value").as("attributed_value"))
          .orderBy($"channel")
      }),

    // Exact equi-width value histogram per event type — the
    // distribution readout behind alerting thresholds and bucket-count
    // sizing (and the exact baseline the sk_approx_quantiles sketch is
    // judged against). Buckets are integer floor(value/25) — no float
    // boundaries to disagree on; one scan, one hash aggregate on the
    // (type, bucket) composite key.
    QueryDef(
      "ev_histogram",
      Some(s"""
        SELECT event_type,
               CAST(floor(value / 25) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(value) AS lo,
               MAX(value) AS hi,
               ${det.sqlSum("value")} AS bucket_sum
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """.trim),
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy($"event_type",
            floor($"value" / 25).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min($"value").as("lo"),
            max($"value").as("hi"),
            det.dsum($"value").as("bucket_sum"))
          .orderBy($"event_type", $"bucket")
      }),

    // Daily growth accounting: active / new / returning users per
    // epoch day — the DAU decomposition every telemetry pipeline
    // reports. Day keys are exact integer division; "new" compares the
    // day against the user's first-ever day (one per-user min, joined
    // back small). Two shuffles (user-day distinct, per-day rollup) —
    // both keyed, both map-side combined.
    QueryDef(
      "ev_lifecycle",
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
          FROM events),
        firsts AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning
        FROM ud JOIN firsts USING (user_id)
        GROUP BY day
        ORDER BY day
      """.trim),
      (s, d) => {
        import s.implicits._
        val ud = events(s, d)
          .select($"user_id", expr("unix_timestamp(ts) div 86400").as("day"))
          .distinct()
        val firsts = ud.groupBy($"user_id").agg(min($"day").as("first_day"))
        ud.join(firsts, "user_id")
          .groupBy($"day")
          .agg(count(lit(1)).as("n_active"),
            sum(when($"day" === $"first_day", 1L).otherwise(0L)).as("n_new"),
            sum(when($"day" > $"first_day", 1L).otherwise(0L)).as("n_returning"))
          .orderBy($"day")
      }),

    // Seasonal-naive forecast backtest: predict each day's event count
    // with (a) yesterday's count and (b) the count 7 days before, and
    // report per-type mean absolute error for both — the baseline any
    // real forecaster must beat, and the backtest harness shape
    // (join actuals to lagged actuals, aggregate the error) that
    // evaluates it. Pure integer counts and exact integer MAE sums;
    // the lags are one window pass over the (tiny) daily series.
    QueryDef(
      "ev_forecast_naive",
      Some("""
        WITH c AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        l AS (
          SELECT event_type, day, n,
                 lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS n_lag1,
                 lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS n_lag7
          FROM c)
        SELECT event_type,
               CAST(COUNT(n_lag7) AS BIGINT) AS n_days_scored,
               CAST(SUM(abs(n - n_lag1)) FILTER (WHERE n_lag7 IS NOT NULL) AS BIGINT) AS ae_lag1,
               CAST(SUM(abs(n - n_lag7)) FILTER (WHERE n_lag7 IS NOT NULL) AS BIGINT) AS ae_lag7,
               SUM(abs(n - n_lag1)) FILTER (WHERE n_lag7 IS NOT NULL) * 1.0
                 / COUNT(n_lag7) AS mae_lag1,
               SUM(abs(n - n_lag7)) FILTER (WHERE n_lag7 IS NOT NULL) * 1.0
                 / COUNT(n_lag7) AS mae_lag7
        FROM l
        GROUP BY event_type
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val c = events(s, d)
          .select($"event_type", expr("unix_timestamp(ts) div 86400").as("day"))
          .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val l = c
          .withColumn("n_lag1", lag($"n", 1).over(w))
          .withColumn("n_lag7", lag($"n", 7).over(w))
        l.groupBy($"event_type")
          .agg(count($"n_lag7").as("n_days_scored"),
            sum(when($"n_lag7".isNotNull, abs($"n" - $"n_lag1"))).as("ae_lag1"),
            sum(when($"n_lag7".isNotNull, abs($"n" - $"n_lag7"))).as("ae_lag7"))
          .select($"event_type", $"n_days_scored", $"ae_lag1", $"ae_lag7",
            ($"ae_lag1" * lit(1.0) / $"n_days_scored").as("mae_lag1"),
            ($"ae_lag7" * lit(1.0) / $"n_days_scored").as("mae_lag7"))
          .orderBy($"event_type")
      }),

    // DAU/WAU stickiness — per day, distinct daily actives over
    // distinct trailing-7-day actives (the engagement ratio every
    // product dashboard leads with). The trailing distinct-count is a
    // bounded 7× fan-out, realized as an EXPLODE of each active day
    // into its ≤7 covering window-days plus an equi-semi-join against
    // the calendar — never a range-predicate join (which Spark plans
    // as a BroadcastNestedLoopJoin evaluating |days| predicates per
    // row: |days|×|du| comparisons where 7×|du| suffices). Nothing
    // scans events twice and no window runs over the raw stream; at
    // 100 TB the du table is the per-day-distinct reduction, orders
    // of magnitude smaller than the events themselves.
    QueryDef(
      "ev_stickiness",
      Some("""
        WITH du AS (SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                                    user_id
                    FROM events),
        days AS (SELECT DISTINCT day FROM du),
        dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
        wau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
                FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
                GROUP BY d.day)
        SELECT dau.day AS day,
               CAST(dau.dau AS BIGINT) AS dau,
               CAST(wau.wau AS BIGINT) AS wau,
               dau.dau * 1.0 / wau.wau AS stickiness
        FROM dau JOIN wau ON dau.day = wau.day
        ORDER BY day
      """.trim),
      (s, d) => {
        import s.implicits._
        val du = events(s, d)
          .select(expr("unix_timestamp(ts) div 86400").as("day"), $"user_id")
          .distinct()
        val days = du.select($"day").distinct()
        val dau = du.groupBy($"day").agg(count(lit(1)).as("dau"))
        val wau = du
          .select(explode(sequence($"day", $"day" + 6)).as("day"), $"user_id")
          .join(broadcast(days), Seq("day"), "left_semi")
          .groupBy($"day")
          .agg(countDistinct($"user_id").as("wau"))
        dau.join(wau, "day")
          .select($"day", $"dau", $"wau",
            ($"dau" * lit(1.0) / $"wau").as("stickiness"))
          .orderBy($"day")
      }),

    // RFM segmentation over purchase events — recency/frequency/
    // monetary quintiles, the classic customer-value cut. The oracle
    // scores with three global NTILE(5) windows; the Spark side
    // deliberately does NOT (a global ntile funnels every user through
    // one task): each metric's 0-based global rank comes from
    // [[Pipeline.globalRank]] (range shards + per-shard offsets), and
    // NTILE's exact tie-free semantics — rem = n % 5 buckets of size
    // q+1 first, then size-q buckets — is closed-form integer math
    // over (rank, n). Monetary sums route through DECIMAL so the
    // quintile ORDER is engine-identical; user_id breaks all ties.
    QueryDef(
      "ev_rfm",
      Some("""
        WITH u AS (
          SELECT user_id,
                 MAX(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS lastday,
                 COUNT(*) AS freq,
                 SUM(CAST(value AS DECIMAL(18,2))) AS mon
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id),
        m AS (SELECT MAX(lastday) AS maxday FROM u),
        sc AS (
          SELECT user_id,
                 maxday - lastday AS recency_days,
                 freq, mon,
                 ntile(5) OVER (ORDER BY lastday, user_id) AS r_score,
                 ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
                 ntile(5) OVER (ORDER BY mon, user_id) AS m_score
          FROM u CROSS JOIN m)
        SELECT user_id,
               CAST(recency_days AS BIGINT) AS recency_days,
               CAST(freq AS BIGINT) AS frequency,
               CAST(mon AS DOUBLE) AS monetary,
               CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
        FROM sc
        ORDER BY user_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val u = events(s, d).filter($"event_type" === "purchase")
          .select($"user_id", expr("unix_timestamp(ts) div 86400").as("day"),
            $"value".cast("decimal(18,2)").as("v"))
          .groupBy($"user_id")
          .agg(max($"day").as("lastday"), count(lit(1)).as("freq"),
            sum($"v").as("mon"))
        val totals = u.agg(max($"lastday").as("maxday"),
          count(lit(1)).as("n"))
        // NTILE(k) from a 0-based global rank r over n rows:
        // q = n div k, rem = n mod k; buckets 0..rem-1 have q+1 rows.
        // Integer division as (a - a%b)/b: the double divide then sees
        // an exactly-divisible pair, so the quotient is exact — no
        // floor-at-boundary hazard.
        type C = org.apache.spark.sql.Column
        def idiv(a: C, b: C): C = ((a - a % b) / b).cast("long")
        def ntileOf(r: C, n: C, k: Int): C = {
          val q = idiv(n, lit(k))
          val rem = n % k
          val cut = rem * (q + 1)
          val safeQ = when(q === 0, lit(1)).otherwise(q)
          (when(r < cut, idiv(r, q + 1))
            .otherwise(rem + idiv(r - cut, safeQ)) + 1).cast("long")
        }
        val ranked = Seq[(String, Seq[C])](
          "r_rank" -> Seq($"lastday", $"user_id"),
          "f_rank" -> Seq($"freq", $"user_id"),
          "m_rank" -> Seq($"mon", $"user_id"))
          .foldLeft(u) { case (df, (name, ord)) =>
            Pipeline.globalRank(df, ord).withColumnRenamed("rank", name)
          }
        ranked.crossJoin(broadcast(totals))
          .select($"user_id",
            ($"maxday" - $"lastday").cast("long").as("recency_days"),
            $"freq".as("frequency"),
            $"mon".cast("double").as("monetary"),
            ntileOf($"r_rank", $"n", 5).as("r_score"),
            ntileOf($"f_rank", $"n", 5).as("f_score"),
            ntileOf($"m_rank", $"n", 5).as("m_score"))
          .withColumn("rfm",
            ($"r_score" * 100 + $"f_score" * 10 + $"m_score").cast("long"))
          .orderBy($"user_id")
      }),

    // Whale curve — revenue concentration by spend decile: users
    // ranked by purchase value (DECIMAL-exact order, user_id
    // tiebreak), cut into tenths by integer rank math, each tenth's
    // value share. The oracle ranks with a global row_number; the
    // engine uses [[Pipeline.globalRank]] so no single task ever sees
    // the full user table. All sums stay DECIMAL until one final
    // double division per decile row.
    QueryDef(
      "ev_whale_curve",
      Some("""
        WITH u AS (
          SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS v
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id),
        t AS (SELECT SUM(v) AS tot, COUNT(*) AS n FROM u),
        r AS (SELECT user_id, v,
                     row_number() OVER (ORDER BY v DESC, user_id) - 1 AS rnk
              FROM u)
        SELECT CAST((rnk * 10) // n AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(v) AS DOUBLE) AS value_sum,
               CAST(SUM(v) AS DOUBLE) / CAST(tot AS DOUBLE) AS value_share
        FROM r CROSS JOIN t
        GROUP BY 1, tot
        ORDER BY 1
      """.trim),
      (s, d) => {
        import s.implicits._
        val u = events(s, d).filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(sum($"value".cast("decimal(18,2)")).as("v"))
        val t = u.agg(sum($"v").as("tot"), count(lit(1)).as("n"))
        Pipeline.globalRank(u, Seq($"v".desc, $"user_id"))
          .crossJoin(broadcast(t))
          .groupBy(expr("(rank * 10) div n").as("decile"), $"tot")
          .agg(count(lit(1)).as("n_users"),
            sum($"v").as("vs"))
          .select($"decile", $"n_users",
            $"vs".cast("double").as("value_sum"),
            ($"vs".cast("double") / $"tot".cast("double")).as("value_share"))
          .orderBy($"decile")
      }),

    // Kaplan-Meier life table — survival analysis over user lifetimes:
    // lifetime = days between a user's first and last event; a user
    // whose last event is within 1 day of the observation-window end
    // is CENSORED (still alive as far as the data shows), everyone
    // else is a churn event. Per distinct churn lifetime t: the risk
    // set n(t) = users with lifetime ≥ t (censored users leave the
    // risk set at their censoring time — the defining KM property),
    // churned d(t), hazard d(t)/n(t). The risk set comes from ONE
    // descending running sum over the per-day aggregate (O(n)
    // incremental frame — never a per-row rescan), the day table is
    // bounded by the dataset's span in days, and the only floating
    // point is one integer-valued double division per row. The
    // cumulative survival PRODUCT is deliberately not emitted:
    // Π(1 − d/n) has no exact distributed form (exp-sum-log is not
    // bit-reproducible across libms); consumers fold the hazard
    // column, which is the sufficient statistic.
    QueryDef(
      "ev_lifetable",
      Some("""
        WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tse FROM events),
        u AS (SELECT user_id, MIN(tse) AS first_ts, MAX(tse) AS last_ts
              FROM e GROUP BY user_id),
        w AS (SELECT MAX(last_ts) AS wend FROM u),
        lt AS (
          SELECT (last_ts - first_ts) // 86400 AS life_days,
                 last_ts <= (SELECT wend FROM w) - 86400 AS churned
          FROM u),
        d AS (
          SELECT life_days AS t,
                 COUNT(*) FILTER (WHERE churned) AS d_churn,
                 COUNT(*) AS d_all
          FROM lt GROUP BY 1),
        r AS (
          SELECT t, d_churn,
                 SUM(d_all) OVER (ORDER BY t DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_risk
          FROM d)
        SELECT CAST(t AS BIGINT) AS t_days,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d_churn AS BIGINT) AS churned,
               CAST(d_churn AS DOUBLE) / n_risk AS hazard
        FROM r WHERE d_churn > 0
        ORDER BY t_days
      """.trim),
      (s, d) => {
        import s.implicits._
        val u = events(s, d)
          .select($"user_id", unix_timestamp($"ts").as("tse"))
          .groupBy($"user_id")
          .agg(min($"tse").as("first_ts"), max($"tse").as("last_ts"))
        val w = u.agg(max($"last_ts").as("wend"))
        val lt = u.crossJoin(broadcast(w))
          .select(expr("(last_ts - first_ts) div 86400").as("life_days"),
            ($"last_ts" <= $"wend" - 86400L).as("churned"))
        val byDay = lt.groupBy($"life_days".as("t"))
          .agg(count(when($"churned", 1)).as("d_churn"),
            count(lit(1)).as("d_all"))
        val riskW = Window.orderBy($"t".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDay
          .withColumn("n_risk", sum($"d_all").over(riskW))
          .filter($"d_churn" > 0)
          .select($"t".as("t_days"), $"n_risk", $"d_churn".as("churned"),
            ($"d_churn".cast("double") / $"n_risk").as("hazard"))
          .orderBy($"t_days")
      }),

    // Cohort LTV curves — the revenue-side twin of ev_retention: users
    // cohorted by first-activity week, purchase revenue accumulated by
    // cohort age in weeks. Weekly revenue sums are exact DECIMAL at
    // the (cohort, age) grain; the cumulative curve is a running sum
    // of those exact decimals (ascending running frame — O(n)
    // incremental); LTV-per-user divides by the cohort's user count in
    // one final double division per row. Partitioned by cohort, the
    // window state is one row per (cohort, age) — bounded by the
    // span in weeks squared, never by users or events.
    QueryDef(
      "ev_cohort_ltv",
      Some("""
        WITH e AS (SELECT user_id, event_type, value,
                          CAST(floor(epoch(ts)) AS BIGINT) AS tse FROM events),
        u AS (SELECT user_id, MIN(tse) // 604800 AS cohort_week FROM e GROUP BY user_id),
        cs AS (SELECT cohort_week, COUNT(*) AS n_users FROM u GROUP BY 1),
        p AS (
          SELECT u.cohort_week,
                 e.tse // 604800 - u.cohort_week AS age_weeks,
                 e.value
          FROM e JOIN u ON e.user_id = u.user_id
          WHERE e.event_type = 'purchase'),
        wk AS (
          SELECT cohort_week, age_weeks,
                 SUM(CAST(value AS DECIMAL(18,2))) AS rev
          FROM p GROUP BY 1, 2),
        cum AS (
          SELECT cohort_week, age_weeks,
                 SUM(rev) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_rev
          FROM wk)
        SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
               CAST(c.age_weeks AS BIGINT) AS age_weeks,
               CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
               CAST(c.cum_rev AS DOUBLE) / cs.n_users AS ltv_per_user,
               CAST(cs.n_users AS BIGINT) AS n_users
        FROM cum c JOIN cs ON c.cohort_week = cs.cohort_week
        ORDER BY cohort_week, age_weeks
      """.trim),
      (s, d) => {
        import s.implicits._
        val e = events(s, d)
          .select($"user_id", $"event_type", $"value",
            unix_timestamp($"ts").as("tse"))
        val u = e.groupBy($"user_id")
          .agg(expr("min(tse) div 604800").as("cohort_week"))
        val cs = u.groupBy($"cohort_week").agg(count(lit(1)).as("n_users"))
        val wk = e.filter($"event_type" === "purchase")
          .join(u, "user_id")
          .select($"cohort_week",
            (expr("tse div 604800") - $"cohort_week").as("age_weeks"), $"value")
          .groupBy($"cohort_week", $"age_weeks")
          .agg(sum($"value".cast("decimal(18,2)")).as("rev"))
        val cumW = Window.partitionBy($"cohort_week").orderBy($"age_weeks")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wk.withColumn("cum_rev", sum($"rev").over(cumW))
          .join(broadcast(cs), "cohort_week")
          .select($"cohort_week", $"age_weeks",
            $"cum_rev".cast("double").as("cum_revenue"),
            ($"cum_rev".cast("double") / $"n_users").as("ltv_per_user"),
            $"n_users")
          .orderBy($"cohort_week", $"age_weeks")
      }),

    // Overlapping-interval merge — the classic "time actually covered"
    // operator (session stitching, machine-uptime, ad-exposure): each
    // event opens an interval [tse, tse + floor(value·60)s]; per user,
    // intervals that touch are merged by the cumulative-max sweep —
    // an interval starts a NEW group iff its start exceeds the running
    // max of all previous ends. Both windows are ascending running
    // frames over (user, start, end, id) — O(n) incremental, state is
    // one value per user — then one groupBy per merged run. All
    // integer arithmetic; floor() before the cast because DuckDB's
    // BIGINT cast rounds while Spark's truncates.
    QueryDef(
      "ev_interval_merge",
      Some("""
        WITH iv AS (
          SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS s,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   + CAST(floor(value * 60) AS BIGINT) AS e
          FROM events),
        m AS (
          SELECT user_id, s, e,
                 MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max,
                 event_id
          FROM iv),
        g AS (
          SELECT user_id, s, e,
                 SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM m),
        mg AS (
          SELECT user_id, grp, MIN(s) AS gs, MAX(e) AS ge
          FROM g GROUP BY 1, 2)
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(ge - gs) AS BIGINT) AS covered_seconds,
               CAST(MAX(ge - gs) AS BIGINT) AS longest_seconds
        FROM mg GROUP BY user_id
        ORDER BY user_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val iv = events(s, d)
          .select($"user_id", $"event_id",
            unix_timestamp($"ts").as("s"),
            (unix_timestamp($"ts") + floor($"value" * 60).cast("long")).as("e"))
        val ord = Seq($"s", $"e", $"event_id")
        val prevW = Window.partitionBy($"user_id").orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, -1)
        val runW = Window.partitionBy($"user_id").orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        iv
          .withColumn("prev_max", max($"e").over(prevW))
          .withColumn("grp", sum(
            when($"prev_max".isNull || $"s" > $"prev_max", 1).otherwise(0))
            .over(runW))
          .groupBy($"user_id", $"grp")
          .agg(min($"s").as("gs"), max($"e").as("ge"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum($"ge" - $"gs").as("covered_seconds"),
            max($"ge" - $"gs").as("longest_seconds"))
          .orderBy($"user_id")
      }))
}
