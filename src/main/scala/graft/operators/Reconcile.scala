package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Hierarchical forecast reconciliation check (Hyndman et al. 2011,
  * bottom-up vs direct): seasonal-naive (same-weekday-mean) forecasts
  * trained on days 0–20 for the test week 21–27, produced at BOTH
  * levels of the hierarchy — per event type and directly at the total
  * — and compared per test day: the direct total, the bottom-up sum
  * of type forecasts, the incoherence between them, and each one's
  * error against the actual. Incoherent level forecasts are the
  * classic silent bug of per-team dashboards (the parts don't sum to
  * the headline); the reconciliation table is the fix's evidence.
  *
  * Determinism: NO doubles in the interior. Daily series are
  * cent-scaled BIGINT; each weekday-mean forecast is rounded
  * half-up to BIGINT MICRO-dollars with exact integer arithmetic
  * ((20000·Σz + c) div (2·c) — all operands positive, so Spark's
  * truncating `div` and DuckDB's flooring `//` agree); bottom-up
  * sums and incoherence/error differences stay BIGINT; the ONLY
  * floating-point step is the final ÷1e6 projection, and identical
  * integers divide to bit-identical doubles on any engine build.
  * This replaces two rounds of snap-grid shuffling (r7 snap9 → r8
  * dollar-scale snap6) that both left one output value straddling a
  * rounding boundary across engine builds (16295.109999 vs
  * 16295.11).
  *
  * Scale: one daily hash aggregate (calendar-bounded), weekday-mean
  * aggregates over 21 rows/type, a 7-row join.
  */
object Reconcile {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_forecast_reconcile",
      Some(s"""
        WITH ${Acf.sqlDailyByType},
        d0 AS (SELECT MIN(day) AS d0 FROM daily),
        idx AS (
          SELECT event_type, day, z, day - d0.d0 AS di, (day - d0.d0) % 7 AS wd
          FROM daily CROSS JOIN d0),
        fc_type AS (
          SELECT event_type, wd,
                 CAST((20000 * SUM(z) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS f_us
          FROM idx WHERE di < 21 GROUP BY event_type, wd),
        tot_daily AS (
          SELECT day, di, wd, SUM(z) AS zt FROM idx
          GROUP BY day, di, wd),
        fc_total AS (
          SELECT wd,
                 CAST((20000 * SUM(zt) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS f_dir_us
          FROM tot_daily WHERE di < 21 GROUP BY wd),
        bu AS (
          SELECT wd, SUM(f_us) AS f_bu_us
          FROM fc_type GROUP BY wd),
        test AS (
          SELECT t.day, t.wd, t.zt * 10000 AS a_us, ft.f_dir_us, bu.f_bu_us
          FROM tot_daily t
          JOIN fc_total ft ON ft.wd = t.wd
          JOIN bu ON bu.wd = t.wd
          WHERE t.di >= 21 AND t.di < 28)
        SELECT CAST(day AS VARCHAR) AS day,
               a_us / 1000000.0 AS actual,
               f_dir_us / 1000000.0 AS direct,
               f_bu_us / 1000000.0 AS bottom_up,
               (f_dir_us - f_bu_us) / 1000000.0 AS incoherence,
               ABS(a_us - f_dir_us) / 1000000.0 AS err_direct,
               ABS(a_us - f_bu_us) / 1000000.0 AS err_bottom_up
        FROM test
        ORDER BY day
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val d0 = daily.agg(min($"day").as("d0"))
        val idx = daily.crossJoin(broadcast(d0))
          .select($"event_type", $"day", $"z",
            datediff($"day", $"d0").as("di"),
            (datediff($"day", $"d0") % 7).as("wd"))
        // Half-up rounding to micro-dollars in pure BIGINT: z is cents,
        // so mean-in-micro = 10000·Σz/c; (20000·Σz + c) div (2c) rounds
        // it half-up exactly (operands positive — events.value > 0).
        val fcType = idx.filter($"di" < 21)
          .groupBy($"event_type", $"wd".as("ft_wd"))
          .agg(sum($"z").as("sz"), count(lit(1)).as("c"))
          .select($"ft_wd", expr("(20000 * sz + c) div (2 * c)").as("f_us"))
        val totDaily = idx.groupBy($"day", $"di", $"wd")
          .agg(sum($"z").as("zt"))
        val fcTotal = totDaily.filter($"di" < 21)
          .groupBy($"wd".as("t_wd"))
          .agg(sum($"zt").as("szt"), count(lit(1)).as("c"))
          .select($"t_wd", expr("(20000 * szt + c) div (2 * c)").as("f_dir_us"))
        val bu = fcType.groupBy($"ft_wd".as("b_wd"))
          .agg(sum($"f_us").as("f_bu_us"))
        val test = totDaily.filter($"di" >= 21 && $"di" < 28)
          .join(broadcast(fcTotal), $"wd" === $"t_wd")
          .join(broadcast(bu), $"wd" === $"b_wd")
          .select($"day", ($"zt" * 10000).as("a_us"), $"f_dir_us", $"f_bu_us")
        test.select(date_format($"day", "yyyy-MM-dd").as("day"),
            ($"a_us" / lit(1e6)).as("actual"),
            ($"f_dir_us" / lit(1e6)).as("direct"),
            ($"f_bu_us" / lit(1e6)).as("bottom_up"),
            (($"f_dir_us" - $"f_bu_us") / lit(1e6)).as("incoherence"),
            (abs($"a_us" - $"f_dir_us") / lit(1e6)).as("err_direct"),
            (abs($"a_us" - $"f_bu_us") / lit(1e6)).as("err_bottom_up"))
          .orderBy($"day")
      }))
}
