package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Synthetic-control counterfactual (Abadie et al., JASA 2010,
  * reduced to the single-donor OLS weight): fit treated daily revenue
  * (purchases) to the donor series (all other events' value) on the
  * pre-period, predict the post-period counterfactual from the donor,
  * and report the per-day and cumulative treatment effect. The
  * method for "what would the series have done without the launch"
  * when there is no randomized control — the donor absorbs shared
  * shocks (seasonality, traffic) that a naive pre/post diff eats.
  *
  * Fixture semantics: cutover = 2024-01-15 (the ev_cuped/ev_did
  * pre-period convention).
  *
  * Determinism: daily series are cent-scaled BIGINT; OLS moments are
  * exact HUGEINT/DECIMAL sums; α, β and each prediction are
  * fixed-order double expressions, snapped; the cumulative effect
  * folds snapped per-day effects in DECIMAL.
  *
  * Scale: one daily hash aggregate (calendar-bounded); the fit is a
  * 1-row moment reduction; the post-period cumulative window runs
  * over ≤31 calendar rows — bounded, not data-bounded.
  */
object SynthControl {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ev_synth_control",
      Some(s"""
        WITH ${Cointegration.sqlDailyFit("daily WHERE day < DATE '2024-01-15'")},
        post AS (
          SELECT d.day, d.y, d.x,
                 ${det.sqlSnap9("(f.alpha + f.beta * d.x) / 100.0")} AS pred,
                 CAST(${det.sqlSnap9(
          "d.y / 100.0 - (f.alpha + f.beta * d.x) / 100.0")} AS DECIMAL(28,12)) AS eff
          FROM daily d CROSS JOIN fit f
          WHERE d.day >= DATE '2024-01-15')
        SELECT CAST(day AS VARCHAR) AS day,
               ${det.sqlSnap9("y / 100.0")} AS actual,
               pred,
               CAST(eff AS DOUBLE) AS effect,
               CAST(SUM(eff) OVER (ORDER BY day) AS DOUBLE) AS cum_effect
        FROM post
        ORDER BY day
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = Cointegration.purchaseOtherDaily(events(s, d))
        val cutover = lit("2024-01-15").cast("date")
        val fit = Cointegration.dailyFit(daily.filter($"day" < cutover))
        val post = daily.filter($"day" >= cutover).crossJoin(fit)
          .select($"day", $"y",
            det.snap9(($"alpha" + $"beta" * $"x") / 100.0).as("pred"),
            det.snap9($"y" / 100.0 - ($"alpha" + $"beta" * $"x") / 100.0)
              .cast(DecimalType(28, 12)).as("eff"))
        val w = Window.orderBy($"day") // ≤31 calendar rows — bounded
        post.select(date_format($"day", "yyyy-MM-dd").as("day"),
            det.snap9($"y" / 100.0).as("actual"), $"pred",
            $"eff".cast("double").as("effect"),
            sum($"eff").over(w).cast("double").as("cum_effect"))
          .orderBy($"day")
      }))
}
