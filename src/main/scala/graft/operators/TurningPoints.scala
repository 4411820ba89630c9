package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wallis–Moore turning-point test for randomness (Wallis & Moore,
  * JASA 1941) on the daily value series per event type: count the
  * local peaks and troughs; under i.i.d. randomness their expected
  * number is 2(n−2)/3 with variance (16n−29)/90, and the z-score
  * flags serial structure — too FEW turning points means trend or
  * positive autocorrelation, too many means negative autocorrelation
  * (over-correction). The distribution-free cousin of ts_ljung_box —
  * it needs no moments, so one outlier day can't swamp it.
  *
  * Determinism: turning points are sign comparisons on exact integer
  * daily sums (strict inequalities both sides); the z-score is one
  * fixed-order double expression from integer counts, snapped.
  *
  * Scale: one daily hash aggregate (calendar-bounded), one keyed lag
  * window, one count.
  */
object TurningPoints {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_turning_points",
      Some(s"""
        WITH ${Acf.sqlDailyByType},
        lagged AS (
          SELECT event_type,
                 lag(z) OVER (PARTITION BY event_type ORDER BY day) AS zp,
                 z,
                 lead(z) OVER (PARTITION BY event_type ORDER BY day) AS zn
          FROM daily),
        tp AS (
          SELECT event_type,
                 COUNT(*) + 2 AS n,
                 SUM(CASE WHEN (z > zp AND z > zn) OR (z < zp AND z < zn)
                     THEN 1 ELSE 0 END) AS t
          FROM lagged WHERE zp IS NOT NULL AND zn IS NOT NULL
          GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               CAST(t AS BIGINT) AS turning_points,
               ${det.sqlSnap9("2.0 * (n - 2) / 3.0")} AS expected,
               ${det.sqlSnap9(
          "(t - 2.0 * (n - 2) / 3.0) / sqrt((16.0 * n - 29.0) / 90.0)")} AS z_score,
               abs(${det.sqlSnap9(
          "(t - 2.0 * (n - 2) / 3.0) / sqrt((16.0 * n - 29.0) / 90.0)")})
                 > 1.96 AS reject_random
        FROM tp
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val lagged = daily.select($"event_type",
            lag($"z", 1).over(w).as("zp"), $"z", lead($"z", 1).over(w).as("zn"))
          .filter($"zp".isNotNull && $"zn".isNotNull)
        val tp = lagged.groupBy($"event_type")
          .agg((count(lit(1)) + 2).as("n"),
            sum(when(($"z" > $"zp" && $"z" > $"zn")
              || ($"z" < $"zp" && $"z" < $"zn"), 1).otherwise(0)).as("t"))
        val zScore = det.snap9(($"t" - lit(2.0) * ($"n" - 2) / 3.0)
          / sqrt((lit(16.0) * $"n" - 29.0) / 90.0))
        tp.select($"event_type", $"n".cast("long").as("n_days"),
            $"t".cast("long").as("turning_points"),
            det.snap9(lit(2.0) * ($"n" - 2) / 3.0).as("expected"),
            zScore.as("z_score"),
            (abs(zScore) > lit(1.96)).as("reject_random"))
          .orderBy($"event_type")
      }))
}
