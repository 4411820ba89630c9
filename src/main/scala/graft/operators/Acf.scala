package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Autocorrelation function of the daily value series, lags 1–7 — the
  * generalization of ts_autocorr's single lag: the week-scale ACF
  * profile is what seasonality detection, forecasting-model selection,
  * and anomaly-threshold tuning all read first.
  *
  * Determinism: the daily series is integerized once (cent-scaled
  * DECIMAL sum → BIGINT, the Mann-Kendall recipe); the lagged pairs
  * come from ONE ordered window scan per event type (lag 1..7 reuse
  * the same sort); the five Pearson moments are exact DECIMAL(38,0)
  * sums of integer products; the final correlation is fixed-order
  * double arithmetic (the gx_assortativity recipe). One shuffle for
  * the daily aggregate, one window sort, one moment aggregate.
  */
object Acf {

  private val maxLag = 7

  /** Each event type's daily value series `z` (a DECIMAL sum in cents,
    * as BIGINT), keyed by (event_type, day). */
  private[operators] def dailyByType(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long").as("z"))

  /** SQL mirror of [[dailyByType]], the `daily` CTE. */
  private[operators] def sqlDailyByType: String = """daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS z
          FROM events GROUP BY 1, 2)"""

  /** The lag pairs `(event_type, lag, x, y)` of a `lagged` frame that
    * carries `z` and its lags `z1`..`z<maxLag>`: one union arm per lag,
    * rows whose lag is null dropped. */
  private[operators] def lagArms(lagged: DataFrame, maxLag: Int): DataFrame =
    (1 to maxLag).map { k =>
      lagged.filter(col(s"z$k").isNotNull)
        .select(col("event_type"), lit(k).as("lag"),
          col("z").as("x"), col(s"z$k").as("y"))
    }.reduce(_ unionByName _)

  /** SQL mirror of [[lagArms]] over a `lagged` CTE. */
  private[operators] def sqlLagArms(maxLag: Int): String =
    (1 to maxLag).map(k => s"""
          SELECT event_type, $k AS lag, z AS x, z$k AS y
          FROM lagged WHERE z$k IS NOT NULL""").mkString(" UNION ALL ")

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ts_acf", {
        val lagCols = (1 to maxLag).map(k =>
          s"lag(z, $k) OVER (PARTITION BY event_type ORDER BY day) AS z$k")
          .mkString(",\n                 ")
        Some(s"""
        WITH $sqlDailyByType,
        lagged AS (
          SELECT event_type, z,
                 $lagCols
          FROM daily),
        pairs AS (${sqlLagArms(maxLag)}),
        mom AS (
          SELECT event_type, lag, COUNT(*) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS syy
          FROM pairs GROUP BY event_type, lag)
        SELECT event_type, CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_pairs,
               (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS acf
        FROM mom
        ORDER BY event_type, lag
      """.trim)
      },
      (s, d) => {
        import s.implicits._
        val daily = dailyByType(events(s, d))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val lagged = daily.select(
          ($"event_type" +: $"z" +:
            (1 to maxLag).map(k => lag($"z", k).over(w).as(s"z$k"))): _*)
        val pairs = lagArms(lagged, maxLag)
        val dx = $"x".cast(DecimalType(38, 0))
        val dy = $"y".cast(DecimalType(38, 0))
        val mom = pairs.groupBy($"event_type", $"lag")
          .agg(count(lit(1)).as("n"),
            sum(dx * dy).cast("double").as("sxy"),
            sum(dx).cast("double").as("sx"),
            sum(dy).cast("double").as("sy"),
            sum(dx * dx).cast("double").as("sxx"),
            sum(dy * dy).cast("double").as("syy"))
        mom.select($"event_type", $"lag".cast("long").as("lag"),
            $"n".cast("long").as("n_pairs"),
            (($"n" * $"sxy" - $"sx" * $"sy") /
              (sqrt($"n" * $"sxx" - $"sx" * $"sx") *
                sqrt($"n" * $"syy" - $"sy" * $"sy"))).as("acf"))
          .orderBy($"event_type", $"lag")
      }))
}
