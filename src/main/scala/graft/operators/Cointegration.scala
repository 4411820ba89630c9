package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engle–Granger cointegration test (Engle & Granger, Econometrica
  * 1987) between the daily purchase-revenue series and the daily
  * non-purchase activity-value series: OLS the first on the second,
  * then Dickey–Fuller the residual. Two trending series are
  * cointegrated — share a long-run equilibrium — iff the residual is
  * stationary; that's the statistical license for ratio/spread
  * monitoring between metrics (alert on spread, not on either raw
  * series). The EG critical value is stricter than the plain DF one
  * because β was estimated (−3.37 at 5%, constant case).
  *
  * Determinism: both daily series are cent-scaled BIGINT; the OLS fit
  * uses exact HUGEINT/DECIMAL moments; residuals are snapped to the
  * 1e-6 grid and carried as DECIMAL(18,6) so every residual moment
  * (products at scale 12) is exact; the DF t on residuals is one
  * fixed-order double expression, snapped.
  *
  * Scale: one daily hash aggregate (calendar-bounded), a 1-row fit,
  * one keyed-by-nothing-but-30-calendar-rows lag window, one moment
  * reduction.
  */
object Cointegration {

  private val egCrit = "-3.37" // Engle-Granger τ, α=0.05, constant, n≈50

  /** The daily purchase series `y` and the daily total of every other
    * event type `x` (each a DECIMAL sum in cents, as BIGINT), keyed
    * by `day`. */
  private[operators] def purchaseOtherDaily(ev: DataFrame): DataFrame = {
    val z = lit(0).cast(DecimalType(18, 2))
    ev.groupBy(col("ts").cast("date").as("day"))
      .agg(
        (sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 2))).otherwise(z)) * 100)
          .cast("long").as("y"),
        (sum(when(col("event_type") =!= "purchase",
          col("value").cast(DecimalType(18, 2))).otherwise(z)) * 100)
          .cast("long").as("x"))
  }

  /** The OLS fit y = alpha + beta·x over `daily` rows, one row
    * `(beta, alpha)`: exact integer moments, then one fixed-order
    * double expression. */
  private[operators] def dailyFit(daily: DataFrame): DataFrame = {
    val dx = col("x").cast(DecimalType(38, 0))
    val dy = col("y").cast(DecimalType(38, 0))
    val mo = daily.agg(count(lit(1)).as("n"),
      sum(dx).as("sx"), sum(dy).as("sy"),
      sum(dx * col("y")).as("sxy"), sum(dx * col("x")).as("sxx"))
    val beta = (col("sxy").cast("double") - col("sx").cast("double") * col("sy") / col("n")) /
      (col("sxx").cast("double") - col("sx").cast("double") * col("sx") / col("n"))
    mo.select(beta.as("beta"),
      (col("sy").cast("double") / col("n")
        - beta * (col("sx").cast("double") / col("n"))).as("alpha"))
  }

  /** SQL mirror of [[purchaseOtherDaily]] (`daily`) and of [[dailyFit]]
    * over the rows `SELECT * FROM $fitRows` (`mo`, `fit`). */
  private[operators] def sqlDailyFit(fitRows: String): String = s"""daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
                   * 100 AS BIGINT) AS y,
                 CAST(SUM(CASE WHEN event_type <> 'purchase'
                   THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)
                   * 100 AS BIGINT) AS x
          FROM events GROUP BY 1),
        mo AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
          FROM $fitRows),
        fit AS (
          SELECT (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS beta,
                 CAST(sy AS DOUBLE) / n
                   - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                     / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                     * (CAST(sx AS DOUBLE) / n) AS alpha
          FROM mo)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_cointegration",
      Some(s"""
        WITH ${sqlDailyFit("daily")},
        res AS (
          SELECT d.day,
                 CAST(round((d.y - f.alpha - f.beta * d.x) * 1e6) / 1e6
                   AS DECIMAL(18,6)) AS e
          FROM daily d CROSS JOIN fit f),
        lagged AS (
          SELECT e, lag(e) OVER (ORDER BY day) AS ep FROM res),
        pairs AS (
          SELECT ep AS rx, e - ep AS ry FROM lagged WHERE ep IS NOT NULL),
        rmo AS (
          -- explicit INT128-width operands: DuckDB's DECIMAL(18,6)
          -- multiply stays on the int64 path and overflows otherwise
          SELECT COUNT(*) AS n,
                 SUM(rx) AS sx, SUM(ry) AS sy,
                 SUM(CAST(rx AS DECIMAL(28,6)) * ry) AS sxy,
                 SUM(CAST(rx AS DECIMAL(28,6)) * rx) AS sxx,
                 SUM(CAST(ry AS DECIMAL(28,6)) * ry) AS syy
          FROM pairs),
        ols AS (
          SELECT n,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS cxx,
                 CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cxy,
                 CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cyy
          FROM rmo)
        SELECT CAST(n AS BIGINT) AS n_diffs,
               (SELECT ${det.sqlSnap9("beta")} FROM fit) AS beta,
               ${det.sqlSnap9("cxy / cxx")} AS rho,
               ${det.sqlSnap9(
          "(cxy / cxx) / sqrt(((cyy - (cxy / cxx) * cxy) / (n - 2)) / cxx)")} AS t_stat,
               CAST($egCrit AS DOUBLE) AS eg_crit,
               ${det.sqlSnap9(
          "(cxy / cxx) / sqrt(((cyy - (cxy / cxx) * cxy) / (n - 2)) / cxx)")}
                 < CAST($egCrit AS DOUBLE) AS cointegrated
        FROM ols
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = purchaseOtherDaily(events(s, d))
        val fit = dailyFit(daily)
        val res = daily.crossJoin(fit)
          .select($"day",
            (round(($"y" - $"alpha" - $"beta" * $"x") * 1e6) / 1e6)
              .cast(DecimalType(18, 6)).as("e"))
        val w = Window.orderBy($"day") // ≤31 calendar rows — bounded
        val pairs = res.select($"e", lag($"e", 1).over(w).as("ep"))
          .filter($"ep".isNotNull)
          .select($"ep".as("rx"), ($"e" - $"ep").as("ry"))
        val rmo = pairs.agg(count(lit(1)).as("n"),
          sum($"rx").as("sx"), sum($"ry").as("sy"),
          sum($"rx" * $"ry").as("sxy"), sum($"rx" * $"rx").as("sxx"),
          sum($"ry" * $"ry").as("syy"))
        val ols = rmo.select($"n",
          ($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n").as("cxx"),
          ($"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double") / $"n").as("cxy"),
          ($"syy".cast("double") - $"sy".cast("double") * $"sy".cast("double") / $"n").as("cyy"))
        val t = det.snap9(($"cxy" / $"cxx")
          / sqrt((($"cyy" - ($"cxy" / $"cxx") * $"cxy") / ($"n" - 2)) / $"cxx"))
        ols.crossJoin(fit.select(det.snap9($"beta").as("b_out")))
          .select($"n".cast("long").as("n_diffs"),
            $"b_out".as("beta"),
            det.snap9($"cxy" / $"cxx").as("rho"), t.as("t_stat"),
            lit(egCrit.toDouble).as("eg_crit"),
            (t < lit(egCrit.toDouble)).as("cointegrated"))
      }))
}
