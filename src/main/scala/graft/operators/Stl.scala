package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STL-style seasonal decomposition (Cleveland et al., "STL", J. Off.
  * Stat. 1990 — the moving-average skeleton, one pass, no loess) of the
  * hourly event-count series: x(t) = trend + seasonal + residual with a
  * centered 25-hour moving-average trend and hour-of-day seasonal
  * means. The decomposition every monitoring/forecasting pipeline runs
  * before alerting on "unusual" traffic — residuals, not raw counts,
  * are what anomaly thresholds belong on.
  *
  * Determinism discipline: every emitted double is ONE division of
  * exactly-representable integer operands (window sums and group sums
  * of counts — all < 2^53), so no float summation-order hazard exists
  * in either engine:
  *   trend      = winsum / 25
  *   seasonal_h = mean over full-window hours of (x − trend) at
  *                hour-of-day h = (25·Σx_h − Σwinsum_h) / (25·n_h)
  *   residual   = x − trend − seasonal (fixed left-assoc shape both
  *                engines)
  * Trend (and hence residual) is NULL at the ±12 h series edges —
  * partial-window extrapolation is a modeling choice, not a default.
  *
  * Scale: the series is a (type, hour)-keyed grid (same zero-filled
  * construction as ts_matrix_profile); one window pass per series +
  * one hour-of-day rollup — row-local per series at any corpus size.
  */
object Stl {

  private val HOURS = 720
  private val HALF = 12 // centered 25-hour window

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_stl_decompose",
      Some(s"""
        WITH cnt AS (
          SELECT event_type,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 3600000000 AS h,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT t.event_type, g.h, COALESCE(c.x, 0) AS x
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT unnest(range(0, $HOURS)) AS h) g
          LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = g.h),
        win AS (
          SELECT event_type, h, x,
                 SUM(x) OVER w AS winsum,
                 COUNT(*) OVER w AS winn
          FROM grid
          WINDOW w AS (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN $HALF PRECEDING AND $HALF FOLLOWING)),
        full_w AS (SELECT * FROM win WHERE winn = ${2 * HALF + 1}),
        seas AS (
          SELECT event_type, h % 24 AS hod,
                 (25.0 * SUM(x) - SUM(winsum)) / (25.0 * COUNT(*)) AS seasonal
          FROM full_w GROUP BY 1, 2)
        SELECT w.event_type, CAST(w.h AS BIGINT) AS h, CAST(w.x AS BIGINT) AS x,
               CASE WHEN w.winn = ${2 * HALF + 1}
                    THEN ${det.sqlSnap9("w.winsum / 25.0")} END AS trend,
               ${det.sqlSnap9("s.seasonal")} AS seasonal,
               CASE WHEN w.winn = ${2 * HALF + 1}
                    THEN ${det.sqlSnap9("w.x - w.winsum / 25.0 - s.seasonal")}
                    END AS residual
        FROM win w JOIN seas s
          ON s.event_type = w.event_type AND s.hod = w.h % 24
        ORDER BY w.event_type, w.h
      """.trim),
      (s, d) => {
        val grid = Hurst.hourlyGrid(s, d, HOURS)
          .select(col("event_type"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
          .rowsBetween(-HALF, HALF)
        val win = grid
          .withColumn("winsum", sum(col("x")).over(w))
          .withColumn("winn", count(lit(1)).over(w))
          .localCheckpoint() // feeds both the seasonal rollup and the readout
        val seas = win.filter(col("winn") === 2 * HALF + 1)
          .groupBy(col("event_type").as("s_event_type"),
            (col("h") % 24).as("hod"))
          .agg(((lit(25.0) * sum(col("x")) - sum(col("winsum")))
            / (lit(25.0) * count(lit(1)))).as("seasonal"))
        win.join(seas,
            col("event_type") === col("s_event_type") &&
              col("hod") === col("h") % 24)
          .select(col("event_type"), col("h").cast("long").as("h"),
            col("x").cast("long").as("x"),
            when(col("winn") === 2 * HALF + 1,
              det.snap9(col("winsum") / 25.0)).as("trend"),
            det.snap9(col("seasonal")).as("seasonal"),
            when(col("winn") === 2 * HALF + 1,
              det.snap9(col("x") - col("winsum") / 25.0 - col("seasonal")))
              .as("residual"))
          .orderBy(col("event_type"), col("h"))
      }))
}
