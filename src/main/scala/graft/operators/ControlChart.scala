package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shewhart individuals control chart with Western Electric run rules
  * (WE rules 1, 2 and 4; Montgomery, Intro to SQC): center line =
  * series mean, σ̂ = mean moving range / d₂(2) = MR̄/1.128, and per
  * day the rule flags — beyond 3σ (rule 1), 2-of-3 consecutive beyond
  * the same 2σ limit (rule 2), 8 consecutive on one side of center
  * (rule 4). The operational monitoring layer ev_anomaly's plain
  * z-score misses: run rules catch small sustained shifts long before
  * any single point crosses 3σ.
  *
  * Determinism: the daily series and moving ranges are exact
  * integers; center/σ̂ are exact-int ratios; every comparison uses
  * the same fixed-order double limits in both engines; rule flags are
  * integer window folds (keyed by type, calendar-bounded).
  *
  * Scale: one daily hash aggregate, keyed lag/run windows over ≤31
  * rows per type, no global state.
  */
object ControlChart {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_control_chart",
      Some(s"""
        WITH ${Acf.sqlDailyByType},
        mr AS (
          SELECT event_type, day, z,
                 abs(z - lag(z) OVER (PARTITION BY event_type ORDER BY day)) AS r
          FROM daily),
        st AS (
          SELECT event_type,
                 CAST(SUM(z) AS DOUBLE) / COUNT(*) AS center,
                 CAST(SUM(r) AS DOUBLE) / (COUNT(r) * 1.128) AS sigma
          FROM mr GROUP BY event_type),
        flags AS (
          SELECT m.event_type, m.day, m.z, s.center, s.sigma,
                 CASE WHEN abs(m.z - s.center) > 3 * s.sigma THEN 1 ELSE 0 END AS beyond3,
                 CASE WHEN m.z > s.center + 2 * s.sigma THEN 1 ELSE 0 END AS hi2,
                 CASE WHEN m.z < s.center - 2 * s.sigma THEN 1 ELSE 0 END AS lo2,
                 CASE WHEN m.z > s.center THEN 1 ELSE 0 END AS above
          FROM mr m JOIN st s ON s.event_type = m.event_type),
        runs AS (
          SELECT event_type, day, z, center, sigma, beyond3,
                 CASE WHEN SUM(hi2) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                        OR SUM(lo2) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                      THEN 1 ELSE 0 END AS rule2,
                 CASE WHEN SUM(above) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) IN (0, 8)
                        AND ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) >= 8
                      THEN 1 ELSE 0 END AS rule4
          FROM flags)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ${det.sqlSnap9("MAX(center) / 100.0")} AS center,
               ${det.sqlSnap9("MAX(sigma) / 100.0")} AS sigma,
               CAST(SUM(beyond3) AS BIGINT) AS rule1_days,
               CAST(SUM(rule2) AS BIGINT) AS rule2_days,
               CAST(SUM(rule4) AS BIGINT) AS rule4_days
        FROM runs
        GROUP BY event_type
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val mr = daily.withColumn("r", abs($"z" - lag($"z", 1).over(w)))
        val st = mr.groupBy($"event_type".as("s_et"))
          .agg((sum($"z").cast("double") / count(lit(1))).as("center"),
            (sum($"r").cast("double") / (count($"r") * lit(1.128)))
              .as("sigma"))
        val flags = mr.join(st, $"event_type" === $"s_et")
          .select($"event_type", $"day", $"z", $"center", $"sigma",
            when(abs($"z" - $"center") > lit(3) * $"sigma", 1)
              .otherwise(0).as("beyond3"),
            when($"z" > $"center" + lit(2) * $"sigma", 1)
              .otherwise(0).as("hi2"),
            when($"z" < $"center" - lit(2) * $"sigma", 1)
              .otherwise(0).as("lo2"),
            when($"z" > $"center", 1).otherwise(0).as("above"))
        val w3 = w.rowsBetween(-2, Window.currentRow)
        val w8 = w.rowsBetween(-7, Window.currentRow)
        val runs = flags.select($"event_type", $"day", $"center", $"sigma",
          $"beyond3",
          when(sum($"hi2").over(w3) >= 2 || sum($"lo2").over(w3) >= 2, 1)
            .otherwise(0).as("rule2"),
          when(sum($"above").over(w8).isin(0, 8)
            && row_number().over(w) >= 8, 1).otherwise(0).as("rule4"))
        runs.groupBy($"event_type")
          .agg(count(lit(1)).cast("long").as("n_days"),
            det.snap9(max($"center") / 100.0).as("center"),
            det.snap9(max($"sigma") / 100.0).as("sigma"),
            sum($"beyond3").cast("long").as("rule1_days"),
            sum($"rule2").cast("long").as("rule2_days"),
            sum($"rule4").cast("long").as("rule4_days"))
          .orderBy($"event_type")
      }))
}
