package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seasonal strength F_s = 1 − Var(deseasonalized)/Var(series)
  * (Hyndman's STL strength measure, level-only variant) for the
  * hourly count series per event type — the one-number "should this
  * series get a seasonal model" gate that complements
  * ts_stl_decompose's full component table. The seasonal component is
  * the hour-of-day mean over the dense 720-hour grid (missing hours
  * are true zeros), so every hour-of-day cell has exactly 30 samples.
  *
  * Determinism: with the fixed 30-sample cells the residual scales to
  * an exact integer (30x − C_hod), so both variances are integer
  * ratios and F_s is ONE fixed-order double expression from exact
  * HUGEINT/DECIMAL sums, snapped.
  *
  * Scale: one hash aggregate to the calendar-bounded grid, one
  * hour-of-day aggregate, one moment fold.
  */
object SeasonalStrength {

  private val H = 720
  private val cell = 30 // samples per hour-of-day cell on the dense grid

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_seasonal_strength",
      Some(s"""
        WITH ${Hurst.sqlHourlyGrid(H)},
        hod AS (
          SELECT event_type, h % 24 AS hd, SUM(x) AS ch
          FROM grid GROUP BY 1, 2),
        res AS (
          SELECT g.event_type,
                 CAST($cell AS HUGEINT) * g.x - hod.ch AS r,
                 g.x
          FROM grid g
          JOIN hod ON hod.event_type = g.event_type AND hod.hd = g.h % 24),
        mo AS (
          SELECT event_type,
                 SUM(r * r) AS sr2,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sx2
          FROM res GROUP BY event_type)
        SELECT event_type,
               ${det.sqlSnap9(
          s"1.0 - CAST(sr2 AS DOUBLE) * $H" +
            s" / ($cell.0 * $cell * ($H * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx))")}
                 AS seasonal_strength
        FROM mo
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val grid = Hurst.hourlyGrid(s, d, H)
          .select($"event_type", $"h", coalesce($"x", lit(0L)).as("x"))
        val hod = grid.groupBy($"event_type".as("h_et"), ($"h" % 24).as("hd"))
          .agg(sum($"x").as("ch"))
        val res = grid.join(hod,
            $"event_type" === $"h_et" && $"h" % 24 === $"hd")
          .select($"event_type",
            (lit(cell).cast(DecimalType(38, 0)) * $"x" - $"ch").as("r"), $"x")
        val hug = $"x".cast(DecimalType(38, 0))
        val mo = res.groupBy($"event_type")
          .agg(sum($"r" * $"r").as("sr2"),
            sum(hug).as("sx"), sum(hug * $"x").as("sx2"))
        mo.select($"event_type",
            det.snap9(lit(1.0) - $"sr2".cast("double") * H
              / (lit(cell.toDouble) * cell
                * (lit(H) * $"sx2".cast("double") - $"sx".cast("double") * $"sx")))
              .as("seasonal_strength"))
          .orderBy($"event_type")
      }))
}
