package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** KPSS level-stationarity test (Kwiatkowski, Phillips, Schmidt &
  * Shin, J. Econometrics 1992), lag-0 variant, on the daily value
  * series per event type: η = Σ_t S_t² / (n·Σe²) where e are the
  * demeaned values and S_t their partial sums; η above the 5%
  * critical value 0.463 REJECTS stationarity. The mirror image of
  * ts_unit_root (whose null is the unit root) — running both is the
  * standard joint procedure: agreement is a verdict, disagreement
  * flags structural breaks or too-short samples.
  *
  * Determinism: with the n·z−S exact-centering trick everything up to
  * the final division is integer — E_t = n·z_t − S, partial sums P_t
  * (one keyed running window), and both power sums in HUGEINT/DECIMAL;
  * η = ΣP²/(n·ΣE²) is one exact-int double division, snapped.
  *
  * Scale: one daily hash aggregate (calendar-bounded series), one
  * keyed-by-type running window over ≤31 rows, one moment aggregate.
  */
object Kpss {

  private val kpssCrit = "0.463" // KPSS level stat, α=0.05 (published)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_kpss",
      Some(s"""
        WITH ${Acf.sqlDailyByType},
        st AS (
          SELECT event_type, COUNT(*) AS n, SUM(z) AS s
          FROM daily GROUP BY event_type),
        cent AS (
          SELECT d.event_type, d.day, st.n,
                 CAST(st.n AS HUGEINT) * d.z - st.s AS e
          FROM daily d JOIN st ON st.event_type = d.event_type),
        ps AS (
          SELECT event_type, n, e,
                 SUM(e) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS p
          FROM cent),
        mo AS (
          SELECT event_type, MAX(n) AS n,
                 SUM(e * e) AS se2, SUM(p * p) AS sp2
          FROM ps GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               ${det.sqlSnap9("CAST(sp2 AS DOUBLE) / (n * CAST(se2 AS DOUBLE))")} AS eta,
               CAST($kpssCrit AS DOUBLE) AS kpss_crit,
               ${det.sqlSnap9("CAST(sp2 AS DOUBLE) / (n * CAST(se2 AS DOUBLE))")}
                 > CAST($kpssCrit AS DOUBLE) AS reject_stationarity
        FROM mo
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val st = daily.groupBy($"event_type".as("st_et"))
          .agg(count(lit(1)).as("n"), sum($"z").as("s"))
        val cent = daily.join(st, $"event_type" === $"st_et")
          .select($"event_type", $"day", $"n",
            ($"n".cast(DecimalType(38, 0)) * $"z" - $"s").as("e"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ps = cent.withColumn("p", sum($"e").over(w))
        val mo = ps.groupBy($"event_type")
          .agg(max($"n").as("n"),
            sum($"e" * $"e").as("se2"), sum($"p" * $"p").as("sp2"))
        val eta = det.snap9($"sp2".cast("double")
          / ($"n" * $"se2".cast("double")))
        mo.select($"event_type", $"n".cast("long").as("n_days"),
            eta.as("eta"), lit(kpssCrit.toDouble).as("kpss_crit"),
            (eta > lit(kpssCrit.toDouble)).as("reject_stationarity"))
          .orderBy($"event_type")
      }))
}
