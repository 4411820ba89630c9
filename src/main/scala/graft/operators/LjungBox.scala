package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Ljung–Box portmanteau white-noise test (Ljung & Box, Biometrika
  * 1978), lags 1–7, on the daily value series per event type:
  * Q = n(n+2) Σ_k ρ_k² / (n−k), rejected against the χ²(7) 5% critical
  * value. The standard "is there ANY autocorrelation left" gate a
  * forecasting pipeline runs on its residuals before trusting
  * prediction intervals — here on the raw series, where rejection is
  * the expected outcome and the per-type Q ranks series by structure.
  *
  * Determinism: the series is integerized (cent-scaled DECIMAL sum →
  * BIGINT, the ts_acf recipe); mean-centering is exact via the n·x−S
  * trick (ρ_k = Σ(n·x_t−S)(n·x_{t+k}−S) / Σ(n·x_t−S)², all integer
  * products in DECIMAL(38,0) sums); each lag's Q term is fixed-order
  * double arithmetic snapped to the 1e-9 grid, summed as DECIMAL so
  * the 7-term fold is order-independent; χ²(7, 0.95) = 14.067140 is a
  * quoted literal, not computed.
  *
  * Scale: one daily hash aggregate, one ordered window scan (7 lags
  * share the sort), one moment aggregate per (type, lag), a 7-row
  * fold per type. Series length is calendar-bounded; nothing grows
  * with event count but the first aggregate.
  */
object LjungBox {

  private val maxLag = 7
  private val chi2Crit = "14.067140" // χ²(df=7), α=0.05, two published dp

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_ljung_box", {
        val lagCols = (1 to maxLag).map(k =>
          s"lag(z, $k) OVER (PARTITION BY event_type ORDER BY day) AS z$k")
          .mkString(",\n                 ")
        Some(s"""
        WITH ${Acf.sqlDailyByType},
        stats AS (
          SELECT event_type, COUNT(*) AS n, SUM(z) AS s
          FROM daily GROUP BY event_type),
        cent AS (
          -- exact centering: c_t = n*z_t - S (integer)
          SELECT d.event_type, d.day, st.n,
                 CAST(st.n AS BIGINT) * d.z - st.s AS c
          FROM daily d JOIN stats st ON st.event_type = d.event_type),
        lagged AS (
          SELECT event_type, n, c AS z,
                 ${(1 to maxLag).map(k =>
            s"lag(c, $k) OVER (PARTITION BY event_type ORDER BY day) AS z$k")
            .mkString(",\n                 ")}
          FROM cent),
        pairs AS (${Acf.sqlLagArms(maxLag)}),
        den AS (
          SELECT event_type, n,
                 CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS d2
          FROM lagged GROUP BY event_type, n),
        num AS (
          SELECT event_type, lag, COUNT(*) AS n_pairs,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS nk
          FROM pairs GROUP BY event_type, lag),
        terms AS (
          SELECT d.event_type, d.n, nm.lag,
                 ${det.sqlSnap9("(nm.nk / d.d2) * (nm.nk / d.d2) / (d.n - nm.lag)")} AS term
          FROM den d JOIN num nm ON nm.event_type = d.event_type)
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
               ${det.sqlSnap9(
            "MAX(n) * (MAX(n) + 2.0) * CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE)")} AS q_stat,
               CAST($chi2Crit AS DOUBLE) AS chi2_crit,
               ${det.sqlSnap9(
            "MAX(n) * (MAX(n) + 2.0) * CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE)")} > CAST($chi2Crit AS DOUBLE) AS reject_white_noise
        FROM terms
        GROUP BY event_type
        ORDER BY event_type
      """.trim)
      },
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val stats = daily.groupBy($"event_type".as("st_et"))
          .agg(count(lit(1)).as("n"), sum($"z").as("s"))
        val cent = daily.join(stats, $"event_type" === $"st_et")
          .select($"event_type", $"day", $"n",
            ($"n".cast("long") * $"z" - $"s").as("c"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val lagged = cent.select(
          ($"event_type" +: $"n" +: $"c".as("z") +:
            (1 to maxLag).map(k => lag($"c", k).over(w).as(s"z$k"))): _*)
        val den = lagged.groupBy($"event_type".as("d_et"), $"n")
          .agg(sum($"z".cast(DecimalType(38, 0)) * $"z".cast(DecimalType(38, 0)))
            .cast("double").as("d2"))
        val pairs = Acf.lagArms(lagged, maxLag)
        val num = pairs.groupBy($"event_type", $"lag")
          .agg(sum($"x".cast(DecimalType(38, 0)) * $"y".cast(DecimalType(38, 0)))
            .cast("double").as("nk"))
        val terms = den.join(num, $"event_type" === $"d_et")
          .select($"event_type", $"n", $"lag",
            det.snap9(($"nk" / $"d2") * ($"nk" / $"d2") / ($"n" - $"lag"))
              .cast(DecimalType(28, 12)).as("term"))
        val q = det.snap9(max($"n") * (max($"n") + lit(2.0))
          * sum($"term").cast("double"))
        terms.groupBy($"event_type")
          .agg(max($"n").cast("long").as("n_days"),
            q.as("q_stat"),
            lit(chi2Crit.toDouble).as("chi2_crit"),
            (q > lit(chi2Crit.toDouble)).as("reject_white_noise"))
          .orderBy($"event_type")
      }))
}
