package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Simple-exponential-smoothing model selection: grid-search the
  * smoothing constant α ∈ {0.2, 0.4, 0.6, 0.8} by one-step-ahead SSE
  * on the daily value series per event type, and report each arm with
  * the winner flagged — the honest way to pick α (Hyndman &
  * Athanasopoulos, FPP §8.1) instead of defaulting to 0.3. The
  * recursion s_t = αx_t + (1−α)s_{t−1} (s₁ = x₁) unrolls to the
  * closed geometric form, so the forecast at t is a weighted sum of
  * the first t−1 observations — no sequential scan.
  *
  * Determinism: the series is cent-scaled BIGINT; each weight
  * (1−α)^(t−1−i) is a pow of literal doubles (identical in both
  * engines from identical integer exponents); every weighted term and
  * each squared error is snapped and folded in DECIMAL.
  *
  * Scale: the unrolled form is a (day t × day i ≤ t) self-join per
  * arm — calendar² × |arms| rows (≈30²·4 per type), bounded by the
  * calendar, NOT by event volume; the only data-sized pass is the
  * daily aggregate.
  */
object SesSelect {

  private val alphas = Seq("0.2", "0.4", "0.6", "0.8")

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_ses_select", {
        val alphaRows = alphas.map(a => s"($a)").mkString(", ")
        Some(s"""
        WITH ${Acf.sqlDailyByType},
        idx AS (
          SELECT event_type, z,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t
          FROM daily),
        al(alpha) AS (VALUES $alphaRows),
        -- forecast for day t (t>=2): s_{t-1} = sum_{i=1..t-1} w_i x_i
        -- with w_i = alpha*(1-alpha)^(t-1-i) for i>1, (1-alpha)^(t-2)+...
        -- folded exactly: w_1 = (1-alpha)^(t-2) (init s_1 = x_1 absorbs
        -- the alpha of its own term)
        terms AS (
          -- dollar scale + a 1e-6 grid: the snap9 grid overflows 2^53
          -- for cent-scale magnitudes (~1e8), so weighted terms snap at
          -- 1e-6 where x*1e6 stays in exact-integer double range
          SELECT a.alpha, tg.event_type, tg.t, tg.z,
                 CAST(round((CASE WHEN src.t = 1
                   THEN pow(1 - a.alpha, tg.t - 2) * (src.z / 100.0)
                   ELSE a.alpha * pow(1 - a.alpha, tg.t - 1 - src.t)
                        * (src.z / 100.0) END) * 1e6) / 1e6
                   AS DECIMAL(28,6)) AS wterm
          FROM idx tg
          JOIN idx src ON src.event_type = tg.event_type AND src.t < tg.t
          CROSS JOIN al a
          WHERE tg.t >= 2),
        fc AS (
          SELECT alpha, event_type, t, MAX(z) AS z,
                 CAST(SUM(wterm) AS DOUBLE) AS s_prev
          FROM terms GROUP BY alpha, event_type, t),
        sse AS (
          -- (z/100 - s_prev) is exact-operand IEEE (identical bits both
          -- engines); the square snaps at 1e-2 (values ~1e10)
          SELECT alpha, event_type, COUNT(*) AS n_fc,
                 CAST(SUM(CAST(round(
                   ((z / 100.0 - s_prev) * (z / 100.0 - s_prev)) * 1e2) / 1e2
                   AS DECIMAL(28,2))) AS DOUBLE) AS sse
          FROM fc GROUP BY alpha, event_type),
        best AS (
          SELECT event_type, MIN(sse) AS min_sse FROM sse GROUP BY event_type)
        SELECT s.event_type, CAST(s.alpha AS DOUBLE) AS alpha,
               CAST(s.n_fc AS BIGINT) AS n_forecasts,
               s.sse AS sse,
               s.sse = b.min_sse AS is_best
        FROM sse s JOIN best b ON b.event_type = s.event_type
        ORDER BY s.event_type, alpha
      """.trim)
      },
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"day")
        val idx = daily.select($"event_type", $"z",
          row_number().over(w).cast("long").as("t"))
        val al = alphas.map(_.toDouble).toDF("alpha")
        val tg = idx.select($"event_type", $"z", $"t")
        val src = idx.select($"event_type".as("s_et"), $"z".as("s_z"),
          $"t".as("s_t"))
        val terms = tg.join(src, $"s_et" === $"event_type" && $"s_t" < $"t")
          .crossJoin(broadcast(al))
          .filter($"t" >= 2)
          .select($"alpha", $"event_type", $"t", $"z",
            (round(when($"s_t" === 1,
                pow(lit(1) - $"alpha", $"t" - 2) * ($"s_z" / 100.0))
                .otherwise($"alpha" * pow(lit(1) - $"alpha",
                  $"t" - 1 - $"s_t") * ($"s_z" / 100.0)) * 1e6) / 1e6)
              .cast(DecimalType(28, 6)).as("wterm"))
        val fc = terms.groupBy($"alpha", $"event_type", $"t")
          .agg(max($"z").as("z"), sum($"wterm").cast("double").as("s_prev"))
        val sse = fc.groupBy($"alpha", $"event_type")
          .agg(count(lit(1)).as("n_fc"),
            sum((round((($"z" / 100.0 - $"s_prev")
              * ($"z" / 100.0 - $"s_prev")) * 1e2) / 1e2)
              .cast(DecimalType(28, 2))).cast("double").as("sse"))
        val best = sse.groupBy($"event_type".as("b_et"))
          .agg(min($"sse").as("min_sse"))
        sse.join(best, $"event_type" === $"b_et")
          .select($"event_type", $"alpha".cast("double").as("alpha"),
            $"n_fc".cast("long").as("n_forecasts"),
            $"sse".as("sse"),
            ($"sse" === $"min_sse").as("is_best"))
          .orderBy($"event_type", $"alpha")
      }))
}
