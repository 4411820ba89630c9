package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust (median-based) seasonal profile — the outlier-immune twin
  * of the mean-based hour-of-day decomposition: per (type,
  * hour-of-day), the LOWER MEDIAN of the 30 dense-grid samples next
  * to their mean, and the hours where the two disagree most — exactly
  * where incident spikes contaminated the mean profile (the reason
  * STL grew robustness iterations). Reported per type: the max
  * mean-vs-median gap hour and the count of hours whose gap exceeds
  * 20% of the median — a one-row contamination report per series.
  *
  * The lower median (rank ⌈n/2⌉ = 15 of 30) is an exact integer order
  * statistic — no interpolation convention to disagree on.
  *
  * Determinism: dense-grid counts are integers; medians are exact
  * rank picks (keyed windows); means are exact count/30 ratios; gaps
  * are fixed-order doubles, snapped.
  *
  * Scale: one hash aggregate to the calendar grid, keyed rank windows
  * over 30-row cells, one per-type fold.
  */
object RobustSeasonal {

  private val H = 720

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_robust_seasonal",
      Some(s"""
        WITH cnt AS (
          SELECT event_type,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 3600000000 AS h,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT t.event_type, g.h, g.h % 24 AS hd, COALESCE(c.x, 0) AS x
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT UNNEST(range(0, $H)) AS h) g
          LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = g.h),
        ranked AS (
          SELECT event_type, hd, x,
                 ROW_NUMBER() OVER (PARTITION BY event_type, hd
                                    ORDER BY x, h) AS rk
          FROM grid),
        cell AS (
          SELECT r.event_type, r.hd,
                 MAX(CASE WHEN rk = 15 THEN x END) AS med,
                 SUM(x) AS s
          FROM ranked r GROUP BY r.event_type, r.hd),
        gaps AS (
          -- gap predicate entirely in integers: |S - 30·med|·5 > 30·med
          -- iff |mean - med| > 0.2·med, with no double boundary to flip
          SELECT event_type, hd, med, s,
                 abs(s - 30 * med) AS gap_num
          FROM cell),
        worst AS (
          SELECT event_type, hd AS worst_hour, med AS worst_med,
                 s AS worst_s
          FROM (SELECT event_type, hd, med, s,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY abs(s - 30 * med) DESC, hd) AS rn
                FROM gaps) WHERE rn = 1)
        SELECT g.event_type,
               CAST(SUM(CASE WHEN 5 * g.gap_num > 30 * g.med THEN 1 ELSE 0 END)
                 AS BIGINT) AS contaminated_hours,
               CAST(w.worst_hour AS BIGINT) AS worst_hour,
               CAST(w.worst_med AS BIGINT) AS worst_median,
               ${det.sqlSnap9("MAX(w.worst_s) / 30.0")} AS worst_mean
        FROM gaps g JOIN worst w ON w.event_type = g.event_type
        GROUP BY g.event_type, w.worst_hour, w.worst_med
        ORDER BY g.event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val grid = Hurst.hourlyGrid(s, d, H)
          .select($"event_type", $"h", ($"h" % 24).as("hd"),
            coalesce($"x", lit(0L)).as("x"))
        val rw = Window.partitionBy($"event_type", $"hd").orderBy($"x", $"h")
        val cell = grid.withColumn("rk", row_number().over(rw))
          .groupBy($"event_type", $"hd")
          .agg(max(when($"rk" === 15, $"x")).as("med"),
            sum($"x").as("s"))
        val gaps = cell.withColumn("gap_num", abs($"s" - lit(30) * $"med"))
        val ww = Window.partitionBy($"event_type")
          .orderBy(abs($"s" - lit(30) * $"med").desc, $"hd")
        val worst = gaps.withColumn("rn", row_number().over(ww))
          .filter($"rn" === 1)
          .select($"event_type".as("w_et"), $"hd".as("worst_hour"),
            $"med".as("worst_med"), $"s".as("worst_s"))
        gaps.join(worst, $"event_type" === $"w_et")
          .groupBy($"event_type", $"worst_hour", $"worst_med")
          .agg(sum(when(lit(5) * $"gap_num" > lit(30) * $"med", 1)
            .otherwise(0)).cast("long").as("contaminated_hours"),
            det.snap9(max($"worst_s") / 30.0).as("worst_mean"))
          .select($"event_type", $"contaminated_hours",
            $"worst_hour".cast("long").as("worst_hour"),
            $"worst_med".cast("long").as("worst_median"), $"worst_mean")
          .orderBy($"event_type")
      }))
}
