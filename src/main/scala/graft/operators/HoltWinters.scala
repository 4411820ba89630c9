package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Additive Holt–Winters triple exponential smoothing (Holt 1957;
  * Winters 1960) of the hourly event-count series, period 24 — the
  * seasonal forecaster that [[Trend]]'s `ts_holt_linear` cannot be for
  * daily-cycled traffic, and the model an alerting pipeline keeps warm
  * per series. α = β = γ = 1/2:
  *
  *   fitted_t = l_{t-1} + b_{t-1} + s_{t-24}       (pre-update forecast)
  *   l_t = 0.5 * (x_t - s_{t-24}) + 0.5 * (l_{t-1} + b_{t-1})
  *   b_t = 0.5 * (l_t - l_{t-1}) + 0.5 * b_{t-1}
  *   s_t = 0.5 * (x_t - l_t) + 0.5 * s_{t-24}
  *
  * Init from the first period: l_23 = mean(x_0..x_23) (one division of
  * exact integer operands), b_23 = 0, s_i = x_i − l_23 for i < 24;
  * the recursion emits t ≥ 24.
  *
  * Determinism: every recursion step is the IDENTICAL binary
  * expression tree in the Scala fold and the oracle's recursive CTE —
  * sums/differences and multiplications by 0.5 only, each one IEEE op,
  * so doubles match bitwise with no tolerance (the ts_holt_linear
  * proof pattern, extended with a 24-slot seasonal register carried as
  * a LIST through the DuckDB recursion). snap9 only at emission.
  *
  * Scale: one hash aggregate to the (type, hour) grid, then ONE
  * per-series sorted fold (collect_list + UDF + posexplode — the
  * recurrence is inherently sequential per series; series length is
  * calendar-bounded at 720, not corpus-bounded, and series process in
  * parallel). Same shape as ts_holt_linear; nothing superlinear.
  */
object HoltWinters {

  private val HOURS = 720
  private val P = 24 // season length

  /** Sequential Holt–Winters fold over one zero-filled hourly series.
    * Emits (h, x, fitted, level, trend, seasonal) for t >= P. */
  private val hwUdf = udf((xs: Seq[Double]) => {
    val n = xs.length
    if (n <= P) Seq.empty[(Int, Double, Double, Double, Double, Double)]
    else {
      var sum0 = 0.0
      var i = 0
      while (i < P) { sum0 += xs(i); i += 1 } // exact: integer-valued doubles
      var l = sum0 / P
      var b = 0.0
      val s = new Array[Double](n)
      i = 0
      while (i < P) { s(i) = xs(i) - l; i += 1 }
      val out = new scala.collection.mutable.ArrayBuffer[(Int, Double, Double, Double, Double, Double)](n - P)
      var t = P
      while (t < n) {
        val lp = l; val bp = b
        val fitted = lp + bp + s(t - P)
        l = 0.5 * (xs(t) - s(t - P)) + 0.5 * (lp + bp)
        b = 0.5 * (l - lp) + 0.5 * bp
        s(t) = 0.5 * (xs(t) - l) + 0.5 * s(t - P)
        out += ((t, xs(t), fitted, l, b, s(t)))
        t += 1
      }
      out.toSeq
    }
  })

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_holt_winters",
      Some(s"""
        WITH RECURSIVE cnt AS (
          SELECT event_type,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 3600000000 AS h,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT t.event_type, g.h, CAST(COALESCE(c.x, 0) AS DOUBLE) AS x
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT unnest(range(0, $HOURS)) AS h) g
          LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = g.h),
        init AS (
          SELECT event_type,
                 SUM(x) / $P AS l0,
                 list(x ORDER BY h) AS xs0
          FROM grid WHERE h < $P GROUP BY event_type),
        rec AS (
          SELECT event_type, CAST($P - 1 AS BIGINT) AS t,
                 l0 AS l, CAST(0 AS DOUBLE) AS b,
                 list_transform(xs0, v -> v - l0) AS s,
                 CAST(NULL AS DOUBLE) AS x, CAST(NULL AS DOUBLE) AS fitted
          FROM init
          UNION ALL
          SELECT r.event_type, r.t + 1,
                 0.5 * (g.x - r.s[1]) + 0.5 * (r.l + r.b),
                 0.5 * ((0.5 * (g.x - r.s[1]) + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
                 list_append(r.s[2:$P],
                   0.5 * (g.x - (0.5 * (g.x - r.s[1]) + 0.5 * (r.l + r.b))) + 0.5 * r.s[1]),
                 g.x,
                 r.l + r.b + r.s[1]
          FROM rec r JOIN grid g
            ON g.event_type = r.event_type AND g.h = r.t + 1)
        SELECT event_type, t AS h, CAST(x AS BIGINT) AS x,
               ${det.sqlSnap9("fitted")} AS fitted,
               ${det.sqlSnap9("l")} AS level,
               ${det.sqlSnap9("b")} AS trend,
               ${det.sqlSnap9(s"s[$P]")} AS seasonal,
               ${det.sqlSnap9("x - fitted")} AS residual
        FROM rec WHERE t >= $P
        ORDER BY event_type, h
      """.trim),
      (s, d) => {
        import s.implicits._
        val grid = Hurst.hourlyGrid(s, d, HOURS)
          .select(col("event_type"), col("h"),
            coalesce(col("x"), lit(0L)).cast("double").as("x"))
        grid.groupBy($"event_type")
          .agg(sort_array(collect_list(struct($"h", $"x"))).as("sorted"))
          .select($"event_type", hwUdf($"sorted.x").as("r"))
          .select($"event_type", explode($"r").as("r"))
          .select($"event_type",
            $"r._1".cast("long").as("h"),
            $"r._2".cast("long").as("x"),
            det.snap9($"r._3").as("fitted"),
            det.snap9($"r._4").as("level"),
            det.snap9($"r._5").as("trend"),
            det.snap9($"r._6").as("seasonal"),
            det.snap9($"r._2" - $"r._3").as("residual"))
          .orderBy($"event_type", $"h")
      }))
}
