package graft.operators

import graft.QueryDef
import graft.det._
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Time-series operators over the events log: activity-profile
  * similarity search (the EDBT'19 streaming-similarity shape, batch
  * formulation) and range-frame windows.
  *
  * Scale notes: profiles reduce each key to a fixed-width vector in ONE
  * hash aggregation (24 decimal sums — exact, order-independent), so
  * the pairwise stage operates on |users| rows, not |events|; the pair
  * join is the profile-matrix square, bounded and broadcastable.
  */
object TimeSeries {

  /** 24 conditional decimal sums building the hour-of-day profile
    * (shared by the exact and LSH similarity queries). */
  private val profSumCasesSql: String = (0 until 24).map(h =>
    s"CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) = $h THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS h$h")
    .mkString(",\n                 ")

  private val profDistSql: String =
    (0 until 24).map(h => s"(a.h$h - b.h$h) * (a.h$h - b.h$h)").mkString(" + ")

  private def profDistCol: Column = (0 until 24).map { h =>
    val diff = col(s"a.h$h") - col(s"b.h$h")
    diff * diff
  }.reduce(_ + _)

  /** Per-(user, hour) decimal value sums — ONE hash aggregation over
    * |events| rows; everything downstream operates on |users|·24 rows. */
  private def hourlyOf(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), hour(col("ts")).as("h"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("hv"))

  /** 24-way pivot of [[hourlyOf]] into one profile row per user. Exact
    * decimal sums → identical values to a single-pass conditional sum
    * over events (the oracle's form). */
  private def profileOf(hourly: DataFrame): DataFrame =
    hourly
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("h") === 0, col("hv"))), lit(0).cast(DecimalType(28, 2)))
          .cast("double").as("h0"),
        (1 until 24).map(hh =>
          coalesce(sum(when(col("h") === hh, col("hv"))), lit(0).cast(DecimalType(28, 2)))
            .cast("double").as(s"h$hh")): _*)

  /** 2^-(k+1) as an exact decimal string — every coefficient of the
    * windowed EWMA is a binary power, so decimal→double parses exactly
    * and per-term products are exact scalings in BOTH engines; only
    * the 8-term additions round, and those evaluate in the same
    * left-associated order on both sides → bit-identical doubles. */
  private def pow2(k: Int): String =
    java.math.BigDecimal.ONE.divide(java.math.BigDecimal.valueOf(2).pow(k + 1)).toPlainString

  /** Every user's hourly `bucket`s from its first to its last event
    * hour, with the hour's DECIMAL value sum `v` (null where the user
    * has no event), hash-partitioned by user_id at session parallelism
    * for the caller's per-user window.
    *
    * floor(x/3600.0) == x div 3600 for non-negative epochs and is exact
    * in double far past any epoch second (`/` on longs in Spark is
    * double division; `//` in the oracle floor-divides). The ~|users|
    * bounds rows are round-robined before the grid explode: the grid
    * inherited the bounds aggregate's hashpartitioning (user_id), AQE
    * rightly coalesced that byte-tiny aggregate to ONE partition, and
    * the 150 → 1.4M explode fan-out plus join probe and the whole fill
    * pass then ran single-task (profiled r13 on ts_linear_interp:
    * 2 × ~1.6 s single-task window stages = 75% of the query — §2.5
    * explode fan-out). Breaking the partitioning chain there also makes
    * the explicit user_id repartition non-redundant, so the window
    * input is pinned at session parallelism instead of riding
    * byte-based coalescing. */
  private def userHourGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vals = events(s, d)
      .groupBy($"user_id",
        floor(unix_timestamp($"ts") / 3600).cast("long").as("bucket"))
      .agg(dsum($"value").as("v"))
    val nPar = s.sessionState.conf.numShufflePartitions
    val grid = vals.groupBy($"user_id")
      .agg(min($"bucket").as("b0"), max($"bucket").as("b1"))
      .repartition(nPar)
      .select($"user_id", explode(sequence($"b0", $"b1")).as("bucket"))
    grid.join(vals, Seq("user_id", "bucket"), "left")
      .repartition(nPar, $"user_id")
  }

  /** SQL mirror of [[userHourGrid]]: `vals`, `bounds`, `grid` and
    * `joined(user_id, bucket, v, gap_filled)`. */
  private def sqlUserHourGrid: String = s"""vals AS (
          SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket,
                 ${sqlSum("value")} AS v
          FROM events GROUP BY 1, 2),
        bounds AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
                   FROM vals GROUP BY 1),
        grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM bounds),
        joined AS (
          SELECT g.user_id, g.bucket, v.v, (v.v IS NULL) AS gap_filled
          FROM grid g LEFT JOIN vals v
            ON g.user_id = v.user_id AND g.bucket = v.bucket)"""

  val defs: Seq[QueryDef] = Seq(

    // Windowed exponentially-weighted moving average: decay 1/2 over
    // the trailing 8 events per user. The true recursive EWMA is not a
    // window expression; the 8-term truncation underestimates it by
    // < 2^-8 of the value scale and IS one — a single per-user window
    // pass (one shuffle on user_id), no iteration, no state.
    QueryDef(
      "ts_ewma", {
        val w = s"PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id"
        val terms = (0 until 8).map(k =>
          s"COALESCE(lag(value, $k) OVER ($w), CAST(0 AS DOUBLE)) * CAST(${pow2(k)} AS DOUBLE)")
          .mkString(" + ")
        Some(s"""
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(event_id AS BIGINT) AS event_id,
                 $terms AS ewma8
          FROM events
          ORDER BY user_id, event_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy(unix_timestamp($"ts"), $"event_id")
        val ewma = (0 until 8).map(k =>
          coalesce(lag($"value", k).over(w), lit(0.0)) *
            lit(pow2(k).toDouble))
          .reduceLeft(_ + _)
        events(s, d)
          .select($"user_id", $"event_id", ewma.as("ewma8"))
          .orderBy($"user_id", $"event_id")
      }),

    // Lag-1 autocorrelation of each user's value series — the
    // is-this-signal-or-noise diagnostic before fitting anything
    // sequential. Pairs come from one lead() window pass; the five
    // moment sums route through DECIMAL (exact, order-independent) and
    // the Pearson formula then runs on identical doubles in both
    // engines. Degenerate series (constant, or < 2 points) emit NULL.
    QueryDef(
      "ts_autocorr", {
        val w = "PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id"
        Some(s"""
          WITH pairs AS (
            SELECT user_id, value AS x,
                   lead(value) OVER ($w) AS y
            FROM events),
          m AS (
            SELECT user_id, COUNT(*) AS n,
                   ${sqlSum("x")} AS sx, ${sqlSum("y")} AS sy,
                   ${sqlSum("x * x", 6)} AS sxx, ${sqlSum("y * y", 6)} AS syy,
                   ${sqlSum("x * y", 6)} AS sxy
            FROM pairs WHERE y IS NOT NULL GROUP BY user_id)
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(n AS BIGINT) AS n_pairs,
                 CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                      THEN (n * sxy - sx * sy)
                             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 END AS r1
          FROM m
          ORDER BY user_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy(unix_timestamp($"ts"), $"event_id")
        val pairs = events(s, d)
          .select($"user_id", $"value".as("x"), lead($"value", 1).over(w).as("y"))
          .filter($"y".isNotNull)
        val m = pairs.groupBy($"user_id")
          .agg(count(lit(1)).as("n"),
            dsum($"x").as("sx"), dsum($"y").as("sy"),
            dsum($"x" * $"x", 6).as("sxx"), dsum($"y" * $"y", 6).as("syy"),
            dsum($"x" * $"y", 6).as("sxy"))
        m.select($"user_id", $"n".as("n_pairs"),
            when(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy") > 0,
              ($"n" * $"sxy" - $"sx" * $"sy") /
                sqrt(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")))
              .as("r1"))
          .orderBy($"user_id")
      }),

    // Hour-of-day activity profiles → top-10 most-similar user pairs by
    // euclidean distance over the 24-dim profile.
    //
    // Scale note (measured, round 3): this is the EXACT formulation and
    // its pair join is quadratic in |users|. Exact metric pruning does
    // not work on this corpus: with D = the 10th-smallest pair distance
    // (320 at sf0.1), a band join on the unit-diagonal projection keeps
    // 94.8% of all pairs, and a 3-coordinate grid still keeps 94.8% —
    // the top-10 pairs (dist ≈ 320) are barely closer than typical
    // pairs (≈ 600 over 24 dims ⇒ per-coordinate deltas ≈ 120 ≪ D), so
    // every deterministic pruning bound degenerates to all-pairs. The
    // declared scale path is the LSH twin below; this form stays as the
    // oracle-exact baseline over the (already |events|→|users| reduced)
    // profile matrix.
    QueryDef(
      "ts_user_similarity", {
        Some(s"""
          WITH prof AS (
            SELECT user_id,
                 $profSumCasesSql
            FROM events GROUP BY user_id)
          SELECT i, j, dist FROM (
            SELECT a.user_id AS i, b.user_id AS j,
                   sqrt($profDistSql) AS dist
            FROM prof a JOIN prof b ON a.user_id < b.user_id)
          ORDER BY dist, i, j
          LIMIT 10
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val prof = profileOf(hourlyOf(s, d))
        prof.as("a").join(prof.as("b"), col("a.user_id") < col("b.user_id"))
          .select(col("a.user_id").as("i"), col("b.user_id").as("j"),
            sqrt(profDistCol).as("dist"))
          .orderBy(asc("dist"), asc("i"), asc("j"))
          .limit(10)
      }),

    // The scale path for profile similarity: 5 deterministic random
    // hyperplanes over the 24-dim profile → 32 LSH buckets; pairs are
    // searched ONLY within a bucket, so the join cost is Σ|bucket|²/2
    // instead of |users|²/2 and each bucket's pairs co-locate in one
    // shuffle partition. The oracle mirrors the bucketing bit-for-bit
    // (plane sums accumulate hv·coef in DECIMAL — exact and
    // order-independent — and the sign bits assemble the same bucket
    // id), so the driver hash-checks the LSH artifact itself, not a
    // weaker invariant. Same hyperplane family as the embedding LSH
    // (Similarity.lshBuckets).
    QueryDef(
      "ts_user_similarity_lsh", {
        Some(s"""
          WITH hourly AS (
            SELECT user_id, EXTRACT(hour FROM ts) AS h,
                   SUM(CAST(value AS DECIMAL(18,2))) AS hv
            FROM events GROUP BY 1, 2),
          planes AS (
            SELECT user_id, p,
                   SUM(hv * (((1103515245 * (p * 64 + h) + 12345) // 65536) % 7 - 3)) AS s
            FROM hourly, range(0, 5) r(p) GROUP BY user_id, p),
          bkt AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
            FROM planes GROUP BY user_id),
          prof AS (
            SELECT user_id,
                 $profSumCasesSql
            FROM events GROUP BY user_id),
          pe AS (SELECT pr.*, b.bucket FROM prof pr JOIN bkt b ON pr.user_id = b.user_id)
          SELECT i, j, dist FROM (
            SELECT a.user_id AS i, b.user_id AS j,
                   sqrt($profDistSql) AS dist
            FROM pe a JOIN pe b ON a.bucket = b.bucket AND a.user_id < b.user_id)
          ORDER BY dist, i, j
          LIMIT 10
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        // hourly feeds both the plane sums and the profile pivot —
        // materialize the |users|·24-row aggregate once.
        val hourly = hourlyOf(s, d).localCheckpoint()
        def coef(p: Int): Column =
          (lit(1103515245L) * (lit(p) * 64 + $"h") + 12345L)
            .divide(lit(65536L)).cast("long") % 7 - 3
        val planes = hourly.groupBy($"user_id")
          .agg(sum($"hv" * coef(0)).as("s0"),
            (1 until 5).map(p => sum($"hv" * coef(p)).as(s"s$p")): _*)
        val bkt = planes.select($"user_id",
          (0 until 5).map(p => when(col(s"s$p") >= 0, lit(1L << p)).otherwise(lit(0L)))
            .reduce(_ + _).cast("long").as("bucket"))
        val pe = profileOf(hourly).join(bkt, "user_id")
        pe.as("a").join(pe.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.user_id") < col("b.user_id"))
          .select(col("a.user_id").as("i"), col("b.user_id").as("j"),
            sqrt(profDistCol).as("dist"))
          .orderBy(asc("dist"), asc("i"), asc("j"))
          .limit(10)
      }),

    // RANGE-frame window: for each event, the value sum of the same
    // user's events within the preceding 600 seconds (event-time band).
    QueryDef(
      "ts_range_frame",
      Some("""
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                 PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS band_sum
        FROM events
        ORDER BY event_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy(unix_timestamp($"ts"))
          .rangeBetween(-600, Window.currentRow)
        events(s, d)
          .withColumn("band_sum",
            sum($"value".cast(DecimalType(18, 2))).over(w).cast("double"))
          .select($"event_id", $"user_id", $"band_sum")
          .orderBy($"event_id")
      }),

    // Corpus profiling (the training-pipeline "data audit" view): one
    // pass over documents → global quality statistics.
    QueryDef(
      "ts_corpus_profile",
      Some(s"""
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT lang) AS n_langs,
               ${sqlSum("length(text)", 0)} AS total_chars,
               (${sqlSum("length(text)", 0)} / COUNT(*)) AS avg_chars,
               MIN(length(text)) AS min_chars,
               MAX(length(text)) AS max_chars,
               CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
               COUNT(DISTINCT md5(text)) AS n_unique
        FROM documents
      """.trim),
      (s, d) => {
        import s.implicits._
        documents(s, d).agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"lang").as("n_langs"),
          dsum(length($"text"), 0).as("total_chars"),
          davg(length($"text"), 0).as("avg_chars"),
          min(length($"text")).cast("long").as("min_chars"),
          max(length($"text")).cast("long").as("max_chars"),
          sum(when($"text".isNull || length($"text") === 0, 1).otherwise(0))
            .cast("long").as("n_empty"),
          countDistinct(md5($"text")).as("n_unique"))
      }),

    // Resample to a fixed hourly grid per user with forward-fill —
    // the gap-repair staple of event-stream feature pipelines. Grid
    // bounds are data-dependent per user (min..max bucket via one agg);
    // the grid explodes from a sequence (generator, no driver state),
    // observed buckets left-join in, and the fill is last-non-null over
    // an ordered window — one shuffle on user_id end to end.
    QueryDef(
      "ts_resample_ffill",
      Some(s"""
        WITH $sqlUserHourGrid
        SELECT user_id, bucket,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING) AS v_filled,
               gap_filled
        FROM joined
        ORDER BY user_id, bucket
      """.trim),
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        userHourGrid(s, d)
          .select($"user_id", $"bucket",
            last($"v", ignoreNulls = true).over(w).as("v_filled"),
            $"v".isNull.as("gap_filled"))
          .orderBy($"user_id", $"bucket")
      }),

    // Gap repair by LINEAR interpolation — the ffill twin for signals
    // where holding the last value biases downstream stats: each
    // missing hour gets pv + (nv − pv)·(t − tp)/(tn − tp) from its
    // bracketing observations (edges fall back to bfill/ffill). The
    // bracketing values come from two IGNORE NULLS window scans over
    // the same grid join as ts_resample_ffill — no extra shuffle vs
    // ffill. The "next" side deliberately avoids a
    // [CURRENT ROW, UNBOUNDED FOLLOWING] frame: Spark's
    // UnboundedFollowingWindowFunctionFrame re-scans to the partition
    // end for EVERY row (O(n²) per user); a running frame over the
    // DESCENDING bucket order computes the same nearest-following
    // observation incrementally in O(n) — same partition key, so the
    // planner reuses one exchange and only adds a sort. The
    // interpolation is 5 IEEE-exact double ops on DECIMAL-derived
    // values in identical order → bit-portable.
    QueryDef(
      "ts_linear_interp",
      Some(s"""
        WITH $sqlUserHourGrid,
        brk AS (
          SELECT user_id, bucket, v, gap_filled,
                 last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS UNBOUNDED PRECEDING) AS pb,
                 first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
          FROM joined)
        SELECT user_id, bucket,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE pv + (nv - pv) * (bucket - pb) / (nb - pb) END AS v_interp,
               gap_filled
        FROM brk
        ORDER BY user_id, bucket
      """.trim),
      (s, d) => {
        import s.implicits._
        val wp = Window.partitionBy($"user_id").orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy($"user_id").orderBy($"bucket".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val obsBucket = when($"v".isNotNull, $"bucket")
        userHourGrid(s, d)
          .select($"user_id", $"bucket", $"v", $"v".isNull.as("gap_filled"),
            last($"v", ignoreNulls = true).over(wp).as("pv"),
            last(obsBucket, ignoreNulls = true).over(wp).as("pb"),
            last($"v", ignoreNulls = true).over(wn).as("nv"),
            last(obsBucket, ignoreNulls = true).over(wn).as("nb"))
          .select($"user_id", $"bucket",
            when($"v".isNotNull, $"v")
              .when($"pv".isNull, $"nv")
              .when($"nv".isNull, $"pv")
              .otherwise($"pv" + ($"nv" - $"pv") * ($"bucket" - $"pb") / ($"nb" - $"pb"))
              .as("v_interp"),
            $"gap_filled")
          .orderBy($"user_id", $"bucket")
      }),

    // Lagged cross-correlation between the daily click and purchase
    // count series — the does-one-signal-lead-the-other diagnostic
    // (promo→purchase lag estimation). Same determinism rules as
    // ts_autocorr: moment sums through DECIMAL, then the Pearson
    // formula over identical doubles — sqrt is IEEE correctly-rounded
    // (unlike ln/exp), so it is bit-portable. Day keys are exact
    // integer division (`div` / `//`); per-lag pairs come from ONE
    // day-keyed equi-join of the two (tiny, pre-aggregated) daily
    // series — the scan aggregates once, lags reuse it.
    QueryDef(
      "ts_cross_corr",
      Some(s"""
        WITH e AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, event_type
          FROM events),
        cx AS (SELECT day, CAST(COUNT(*) AS DOUBLE) AS x FROM e
               WHERE event_type = 'click' GROUP BY day),
        cy AS (SELECT day, CAST(COUNT(*) AS DOUBLE) AS y FROM e
               WHERE event_type = 'purchase' GROUP BY day),
        p AS (
          SELECT l.lag, cx.x, cy.y
          FROM (VALUES (0), (1), (2)) l(lag)
          JOIN cx ON TRUE
          JOIN cy ON cy.day = cx.day + l.lag),
        m AS (
          SELECT lag, COUNT(*) AS n,
                 ${sqlSum("x")} AS sx, ${sqlSum("y")} AS sy,
                 ${sqlSum("x * x", 6)} AS sxx, ${sqlSum("y * y", 6)} AS syy,
                 ${sqlSum("x * y", 6)} AS sxy
          FROM p GROUP BY lag)
        SELECT CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_days,
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                    THEN (n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
               END AS r
        FROM m
        ORDER BY lag
      """.trim)
      ,
      (s, d) => {
        import s.implicits._
        val e = events(s, d)
          .select(expr("unix_timestamp(ts) div 86400").as("day"), $"event_type")
        val cx = e.filter($"event_type" === "click")
          .groupBy($"day").agg(count(lit(1)).cast("double").as("x"))
        val cy = e.filter($"event_type" === "purchase")
          .groupBy($"day").agg(count(lit(1)).cast("double").as("y"))
        val lags = Seq(0L, 1L, 2L).toDF("lag")
        val p = broadcast(lags).crossJoin(cx)
          .join(cy.select(($"day").as("yday"), $"y"), $"yday" === $"day" + $"lag")
        val m = p.groupBy($"lag").agg(
          count(lit(1)).as("n"),
          dsum($"x").as("sx"), dsum($"y").as("sy"),
          dsum($"x" * $"x", 6).as("sxx"), dsum($"y" * $"y", 6).as("syy"),
          dsum($"x" * $"y", 6).as("sxy"))
        m.select($"lag", $"n".as("n_days"),
          when(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy") > 0,
            ($"n" * $"sxy" - $"sx" * $"sy")
              / sqrt(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")))
            .as("r"))
          .orderBy($"lag")
      }),

    // Day-of-week seasonality profile: per event type, the weekly
    // activity shape plus a concentration readout (peak-day share) —
    // the calendar diagnostic behind "is this signal weekday-driven".
    // Day-of-week is pure integer arithmetic on the epoch day ((day+4)
    // mod 7; 1970-01-01 was a Thursday=4) — no timezone/locale
    // functions to disagree across engines. One scan, one composite
    // hash aggregate, one tiny per-type rollup join.
    QueryDef(
      "ts_seasonality",
      Some("""
        WITH e AS (
          SELECT event_type,
                 ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS dow
          FROM events),
        c AS (SELECT event_type, dow, COUNT(*) AS n FROM e GROUP BY 1, 2),
        t AS (SELECT event_type, SUM(n) AS tot, MAX(n) AS peak FROM c GROUP BY 1)
        SELECT c.event_type,
               CAST(c.dow AS BIGINT) AS dow,
               CAST(c.n AS BIGINT) AS n,
               c.n * 1.0 / t.tot AS share,
               c.n = t.peak AS is_peak
        FROM c JOIN t ON c.event_type = t.event_type
        ORDER BY c.event_type, dow
      """.trim),
      (s, d) => {
        import s.implicits._
        val c = events(s, d)
          .select($"event_type",
            ((expr("unix_timestamp(ts) div 86400") + 4) % 7).as("dow"))
          .groupBy($"event_type", $"dow").agg(count(lit(1)).as("n"))
        val t = c.groupBy($"event_type")
          .agg(sum($"n").as("tot"), max($"n").as("peak"))
        c.join(broadcast(t), "event_type")
          .select($"event_type", $"dow", $"n",
            ($"n" * lit(1.0) / $"tot").as("share"),
            ($"n" === $"peak").as("is_peak"))
          .orderBy($"event_type", $"dow")
      }),

    // One-sided CUSUM changepoint detection per event_type over the
    // daily value series: s_t = max(0, s_{t-1} + x_t − μ), breach when
    // s_t > μ. The recursion is non-linear (the max clamps at 0), so
    // no window frame expresses it — the Spark side is a per-key
    // sequential fold (flatMapGroups: state is one double per key,
    // each key's series is bounded, keys scale out across the
    // cluster), the oracle is the same recursion as a recursive CTE.
    // Every step is add/sub/max on doubles produced by DECIMAL sums —
    // IEEE-exact, sequential in the same order in both engines, so
    // the cumulative statistic is bit-portable with NO snapping.
    QueryDef(
      "ts_cusum",
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, day, x,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
          FROM daily),
        mu AS (
          SELECT event_type,
                 CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mu
          FROM seq GROUP BY 1),
        walk(event_type, t, day, x, s) AS (
          SELECT s.event_type, s.t, s.day, s.x,
                 GREATEST(CAST(0 AS DOUBLE), s.x - m.mu)
          FROM seq s JOIN mu m ON s.event_type = m.event_type
          WHERE s.t = 1
          UNION ALL
          SELECT s.event_type, s.t, s.day, s.x,
                 GREATEST(CAST(0 AS DOUBLE), w.s + s.x - m.mu)
          FROM walk w
          JOIN seq s ON s.event_type = w.event_type AND s.t = w.t + 1
          JOIN mu m ON m.event_type = s.event_type)
        SELECT w.event_type,
               CAST(w.t AS BIGINT) AS t,
               CAST(w.day AS BIGINT) AS day,
               w.x, w.s,
               w.s > m.mu AS breached
        FROM walk w JOIN mu m ON w.event_type = m.event_type
        ORDER BY w.event_type, w.t
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = events(s, d)
          .groupBy($"event_type",
            expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(sum($"value".cast(DecimalType(18, 6))).cast("double").as("x"))
        val seq = daily.withColumn("t",
          row_number().over(Window.partitionBy($"event_type").orderBy($"day")))
        val mu = seq.groupBy($"event_type")
          .agg((sum($"x".cast(DecimalType(28, 12))).cast("double") /
            count(lit(1))).as("mu"))
        seq.join(broadcast(mu), "event_type")
          .select($"event_type", $"t".cast("long").as("t"),
            $"day".cast("long").as("day"), $"x", $"mu")
          .as[(String, Long, Long, Double, Double)]
          .groupByKey(_._1)
          .flatMapGroups { (k, it) =>
            var s = 0.0
            it.toSeq.sortBy(_._2).map { case (_, t, day, x, mu) =>
              s = math.max(0.0, s + x - mu)
              (k, t, day, x, s, s > mu)
            }
          }
          .toDF("event_type", "t", "day", "x", "s", "breached")
          .orderBy($"event_type", $"t")
      }),

    // Classical trend/seasonal decomposition (the moving-average core
    // of STL): hourly value sums → trend = centered 25-hour moving
    // average (full windows only) → detrended = y − trend → seasonal
    // profile = per hour-of-day mean of the detrended series. Output
    // is the 24-row seasonal profile — the statistic a forecasting or
    // anomaly pipeline consumes. Plans like it must at 100×: the
    // hourly rollup is one hash aggregate (map-side combined); the
    // centered window runs over the BOUNDED hourly grid (rows =
    // dataset span in hours, not events), so the single window
    // partition is a deliberate, documented bound, and both the
    // window sum and the final per-hour means route through DECIMAL
    // so no double ever accumulates. Windows are ROW-centered: the
    // grid may have holes, and both engines see the identical row
    // sequence, which keeps the oracle exact.
    QueryDef(
      "ts_decompose",
      Some(s"""
        WITH $sqlStlCtes
        SELECT CAST(hod AS BIGINT) AS hour_of_day,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(CAST(dv AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS seasonal
        FROM detr GROUP BY hod
        ORDER BY hour_of_day
      """.trim),
      (s, d) => {
        import s.implicits._
        detrendedHourly(s, d)
          .groupBy($"hod")
          .agg(count(lit(1)).as("n_hours"),
            (sum($"dv".cast(DecimalType(28, 12))).cast("double") /
              count(lit(1))).as("seasonal"))
          .select($"hod".cast("long").as("hour_of_day"), $"n_hours", $"seasonal")
          .orderBy($"hour_of_day")
      }),

    // STL-residual anomaly detection — the composition the decompose
    // exists for: residual = detrended − seasonal(hour-of-day), flag
    // hours where |residual − mean| > 3σ. Mean and σ come from the
    // DECIMAL-exact moment sums (Σr, Σr² per-term decimal-cast), so
    // the threshold is the identical double in both engines; the flag
    // comparison and the output rows follow deterministically. One
    // extra join (24-row seasonal profile, broadcast) and one 1-row
    // stats broadcast on top of the shared detrending dataflow.
    QueryDef(
      "ts_stl_anomaly",
      Some(s"""
        WITH $sqlStlCtes,
        seas AS (
          SELECT hod,
                 CAST(SUM(CAST(dv AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS seasonal
          FROM detr GROUP BY hod),
        resid AS (
          SELECT d.hb, d.ydv,
                 floor((d.dv - s.seasonal) * 1000000 + 0.5) / 1000000 AS r
          FROM detr d JOIN seas s ON d.hod = s.hod),
        stats AS (
          SELECT COUNT(*) AS n,
                 CAST(SUM(CAST(r AS DECIMAL(28,12))) AS DOUBLE) AS s1,
                 CAST(SUM(CAST(r * r AS DECIMAL(28,12))) AS DOUBLE) AS s2
          FROM resid)
        SELECT CAST(r.hb AS BIGINT) AS hour_bucket,
               r.ydv AS hourly_value,
               r.r AS residual
        FROM resid r CROSS JOIN stats t
        WHERE abs(r.r - t.s1 / t.n) > 3 * sqrt(t.s2 / t.n - (t.s1 / t.n) * (t.s1 / t.n))
        ORDER BY hour_bucket
      """.trim),
      (s, d) => {
        import s.implicits._
        val detr = detrendedHourly(s, d)
        val seas = detr.groupBy($"hod")
          .agg((sum($"dv".cast(DecimalType(28, 12))).cast("double") /
            count(lit(1))).as("seasonal"))
        // r snapped to the 1e-6 grid like dv (see detrendedHourly): it
        // and its square then cast to DECIMAL identically in both engines
        val resid = detr.join(broadcast(seas), "hod")
          .select($"hb", $"ydv",
            (floor(($"dv" - $"seasonal") * 1e6 + 0.5) / 1e6).as("r"))
        val stats = resid.agg(
          count(lit(1)).as("n"),
          sum($"r".cast(DecimalType(28, 12))).cast("double").as("s1"),
          sum(($"r" * $"r").cast(DecimalType(28, 12))).cast("double").as("s2"))
        resid.crossJoin(broadcast(stats))
          .filter(abs($"r" - $"s1" / $"n") >
            lit(3) * sqrt($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")))
          .select($"hb".cast("long").as("hour_bucket"),
            $"ydv".as("hourly_value"), $"r".as("residual"))
          .orderBy($"hour_bucket")
      })
  )

  /** The shared DuckDB CTE chain for the STL-style queries: hourly
    * DECIMAL value sums → centered 25-hour moving-average trend (full
    * windows only) → `detr(hb, hod, ydv, dv)` with the detrended
    * series. Mirrored exactly by [[detrendedHourly]]. */
  private def sqlStlCtes: String = """hourly AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hb,
                 SUM(CAST(value AS DECIMAL(18,6))) AS ydec
          FROM events GROUP BY 1),
        tr AS (
          SELECT hb, ydec,
                 SUM(ydec) OVER (ORDER BY hb ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wsum,
                 COUNT(*) OVER (ORDER BY hb ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wcnt
          FROM hourly),
        detr AS (
          SELECT hb, hb % 24 AS hod,
                 CAST(ydec AS DOUBLE) AS ydv,
                 floor((CAST(ydec AS DOUBLE) - CAST(wsum AS DOUBLE) / 25.0)
                       * 1000000 + 0.5) / 1000000 AS dv
          FROM tr WHERE wcnt = 25)"""

  /** Spark twin of [[sqlStlCtes]] — (hb, hod, ydv, dv). The centered
    * window runs over the BOUNDED hourly grid (rows = dataset span in
    * hours, not events), so the single window partition is a
    * deliberate, documented bound; windows are ROW-centered (the grid
    * may have holes, both engines see the identical row sequence).
    *
    * dv is SNAPPED to the 1e-6 grid in pure IEEE ops
    * (`floor(x·1e6 + 0.5)/1e6`) before anything casts it to DECIMAL:
    * an arbitrary computed double can land within an ulp of a
    * scale-12 decimal midpoint, where the two engines' double→DECIMAL
    * roundings disagree (the round-4 lesson — it fired here at sf0.1
    * with an 8.5e-14 seasonal drift). A grid point is 5e-13 from the
    * nearest midpoint, far beyond double representation error, so the
    * snapped value casts identically everywhere — and products of
    * grid values land on the 1e-12 grid, exactly the cast scale. */
  private def detrendedHourly(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    val hourly = events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 3600").as("hb"))
      .agg(sum($"value".cast(DecimalType(18, 6))).as("ydec"))
    val cw = Window.orderBy($"hb").rowsBetween(-12, 12)
    hourly
      .withColumn("wsum", sum($"ydec").over(cw))
      .withColumn("wcnt", count(lit(1)).over(cw))
      .filter($"wcnt" === 25)
      .select($"hb", ($"hb" % 24).as("hod"),
        $"ydec".cast("double").as("ydv"),
        (floor(($"ydec".cast("double") - $"wsum".cast("double") / 25.0)
          * 1e6 + 0.5) / 1e6).as("dv"))
  }
}
