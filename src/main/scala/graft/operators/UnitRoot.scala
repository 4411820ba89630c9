package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dickey–Fuller unit-root test (Dickey & Fuller, JASA 1979) on the
  * daily value series per event type: regress Δz_t on z_{t−1} with an
  * intercept and report ρ̂ and its t-statistic against the 5% DF
  * critical value (constant-only, n≈30: −2.99 per the published
  * tables). t < crit rejects the unit root — the series is
  * mean-reverting and differencing it for a forecast model would be
  * over-differencing; t above it says trend/level shifts dominate.
  * The pre-flight stationarity gate of every forecasting pipeline.
  *
  * Determinism: the series is cent-scaled BIGINT (ts_acf recipe); all
  * regression moments (Σx, Σy, Σxy, Σx², Σy², n) are exact integer
  * sums in DECIMAL(38,0); the OLS closed form then runs as one
  * fixed-order double expression per type, snapped.
  *
  * Scale: one daily hash aggregate (calendar-bounded), one lag window
  * per type, one moment aggregate. Nothing beyond the first
  * aggregate's combine grows with event count.
  */
object UnitRoot {

  private val dfCrit = "-2.99" // DF τ_μ, α=0.05, n≈25–50 (published table)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_unit_root",
      Some(s"""
        WITH ${Acf.sqlDailyByType},
        lagged AS (
          SELECT event_type, z,
                 lag(z) OVER (PARTITION BY event_type ORDER BY day) AS zp
          FROM daily),
        pairs AS (
          SELECT event_type, zp AS x, z - zp AS y
          FROM lagged WHERE zp IS NOT NULL),
        mo AS (
          SELECT event_type, COUNT(*) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT) * y) AS syy
          FROM pairs GROUP BY event_type),
        ols AS (
          SELECT event_type, n,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
                 CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy,
                 CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
          FROM mo),
        fit AS (
          SELECT event_type, n, cxx,
                 cxy / cxx AS rho,
                 (cyy - (cxy / cxx) * cxy) / (n - 2) AS s2
          FROM ols)
        SELECT event_type, CAST(n AS BIGINT) AS n_diffs,
               ${det.sqlSnap9("rho")} AS rho,
               ${det.sqlSnap9("rho / sqrt(s2 / cxx)")} AS t_stat,
               CAST($dfCrit AS DOUBLE) AS df_crit,
               ${det.sqlSnap9("rho / sqrt(s2 / cxx)")}
                 < CAST($dfCrit AS DOUBLE) AS reject_unit_root
        FROM fit
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val pairs = daily
          .select($"event_type", $"z", lag($"z", 1).over(w).as("zp"))
          .filter($"zp".isNotNull)
          .select($"event_type", $"zp".as("x"), ($"z" - $"zp").as("y"))
        val dx = $"x".cast(DecimalType(38, 0))
        val dy = $"y".cast(DecimalType(38, 0))
        val mo = pairs.groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(dx).as("sx"), sum(dy).as("sy"),
            sum(dx * $"y").as("sxy"),
            sum(dx * $"x").as("sxx"),
            sum(dy * $"y").as("syy"))
        val ols = mo.select($"event_type", $"n",
          ($"sxx".cast("double") - $"sx".cast("double") * $"sx" / $"n").as("cxx"),
          ($"sxy".cast("double") - $"sx".cast("double") * $"sy" / $"n").as("cxy"),
          ($"syy".cast("double") - $"sy".cast("double") * $"sy" / $"n").as("cyy"))
        val fit = ols.select($"event_type", $"n", $"cxx",
          ($"cxy" / $"cxx").as("rho"),
          (($"cyy" - ($"cxy" / $"cxx") * $"cxy") / ($"n" - 2)).as("s2"))
        val t = det.snap9($"rho" / sqrt($"s2" / $"cxx"))
        fit.select($"event_type", $"n".cast("long").as("n_diffs"),
            det.snap9($"rho").as("rho"), t.as("t_stat"),
            lit(dfCrit.toDouble).as("df_crit"),
            (t < lit(dfCrit.toDouble)).as("reject_unit_root"))
          .orderBy($"event_type")
      }))
}
