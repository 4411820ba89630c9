package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Partial autocorrelation function via the Durbin–Levinson recursion
  * (Durbin 1960), lags 1–5, on the daily value series per event type —
  * the order-selection companion to ts_acf/ts_ar2: PACF φ_kk is the
  * correlation at lag k after regressing out lags 1..k−1, and the lag
  * where it cuts off is the AR order a forecaster fits.
  *
  * Determinism: ρ_k inputs are the ts_acf recipe (integerized series,
  * exact n·x−S centering, DECIMAL(38,0) moment sums, snap9 on the
  * ratio). The recursion itself is UNROLLED into a fixed chain of
  * scalar formulas generated ONCE as SQL text ([[dlFormulas]]) and
  * evaluated by BOTH engines — Spark via `expr()`, DuckDB via a
  * generated CTE chain — so the two engines run a byte-identical
  * arithmetic tree (IEEE +,·,/ are exact; every φ is snapped before
  * reuse).
  *
  * Scale: one daily hash aggregate, one ordered window scan shared by
  * the 5 lag columns, one moment aggregate, then per-type scalar math
  * on a |event_type|-row table. Nothing after the first aggregate
  * grows with event count.
  */
object Pacf {

  private val maxLag = 5

  /** The unrolled Durbin–Levinson column chain, in evaluation order:
    * (columnName, sqlFormula) where formulas reference r1..r`maxLag`
    * and previously emitted φ columns by name.
    *
    *   φ_11 = ρ_1
    *   φ_kk = (ρ_k − Σ_{j<k} φ_{k−1,j}·ρ_{k−j}) / (1 − Σ_{j<k} φ_{k−1,j}·ρ_j)
    *   φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}
    */
  def dlFormulas: Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    out += (("p_1_1", det.sqlSnap9("r1")))
    for (k <- 2 to maxLag) {
      val num = (1 until k).map(j => s"p_${k - 1}_$j * r${k - j}")
        .mkString(" + ")
      val den = (1 until k).map(j => s"p_${k - 1}_$j * r$j")
        .mkString(" + ")
      out += ((s"p_${k}_$k", det.sqlSnap9(s"(r$k - ($num)) / (1 - ($den))")))
      for (j <- 1 until k)
        out += ((s"p_${k}_$j",
          det.sqlSnap9(s"p_${k - 1}_$j - p_${k}_$k * p_${k - 1}_${k - j}")))
    }
    out.result()
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_pacf", {
        val lagSel = (1 to maxLag).map(k =>
          s"lag(c, $k) OVER (PARTITION BY event_type ORDER BY day) AS z$k")
          .mkString(",\n                 ")
        val rhoCols = (1 to maxLag).map(k =>
          s"MAX(CASE WHEN lag = $k THEN rho END) AS r$k").mkString(",\n               ")
        // one CTE per φ column: each formula may reference the φ emitted
        // immediately before it, which SQL forbids within one SELECT
        val chain = dlFormulas.zipWithIndex.map { case ((name, sql), i) =>
          val prev = if (i == 0) "wide" else s"lv$i"
          s"lv${i + 1} AS (SELECT *, $sql AS $name FROM $prev)"
        }.mkString(",\n        ")
        val last = s"lv${dlFormulas.size}"
        val unpiv = (1 to maxLag).map(k =>
          s"SELECT event_type, $k AS lag, p_${k}_$k AS pacf FROM $last")
          .mkString(" UNION ALL ")
        Some(s"""
        WITH ${Acf.sqlDailyByType},
        stats AS (
          SELECT event_type, COUNT(*) AS n, SUM(z) AS s
          FROM daily GROUP BY event_type),
        cent AS (
          SELECT d.event_type, d.day,
                 CAST(st.n AS BIGINT) * d.z - st.s AS c
          FROM daily d JOIN stats st ON st.event_type = d.event_type),
        lagged AS (
          SELECT event_type, c AS z, $lagSel
          FROM cent),
        pairs AS (${Acf.sqlLagArms(maxLag)}),
        den AS (
          SELECT event_type,
                 CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS d2
          FROM lagged GROUP BY event_type),
        num AS (
          SELECT event_type, lag,
                 CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS nk
          FROM pairs GROUP BY event_type, lag),
        rho AS (
          SELECT d.event_type, nm.lag, ${det.sqlSnap9("nm.nk / d.d2")} AS rho
          FROM den d JOIN num nm ON nm.event_type = d.event_type),
        wide AS (
          SELECT event_type, $rhoCols
          FROM rho GROUP BY event_type),
        $chain
        SELECT event_type, CAST(lag AS BIGINT) AS lag, pacf
        FROM ($unpiv)
        ORDER BY event_type, lag
      """.trim)
      },
      (s, d) => {
        import s.implicits._
        val daily = Acf.dailyByType(events(s, d))
        val stats = daily.groupBy($"event_type".as("st_et"))
          .agg(count(lit(1)).as("n"), sum($"z").as("s"))
        val cent = daily.join(stats, $"event_type" === $"st_et")
          .select($"event_type", $"day",
            ($"n".cast("long") * $"z" - $"s").as("c"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        val lagged = cent.select(
          ($"event_type" +: $"c".as("z") +:
            (1 to maxLag).map(k => lag($"c", k).over(w).as(s"z$k"))): _*)
        val den = lagged.groupBy($"event_type".as("d_et"))
          .agg(sum($"z".cast(DecimalType(38, 0)) * $"z".cast(DecimalType(38, 0)))
            .cast("double").as("d2"))
        val pairs = Acf.lagArms(lagged, maxLag)
        val num = pairs.groupBy($"event_type", $"lag")
          .agg(sum($"x".cast(DecimalType(38, 0)) * $"y".cast(DecimalType(38, 0)))
            .cast("double").as("nk"))
        val rho = den.join(num, $"event_type" === $"d_et")
          .select($"event_type", $"lag", det.snap9($"nk" / $"d2").as("rho"))
        val wide = rho.groupBy($"event_type")
          .agg((1 to maxLag).map(k =>
            max(when($"lag" === k, $"rho")).as(s"r$k")).head,
            (2 to maxLag).map(k =>
              max(when($"lag" === k, $"rho")).as(s"r$k")): _*)
        // evaluate the SAME formula text the oracle runs
        val solved = dlFormulas.foldLeft(wide) { case (df, (name, sql)) =>
          df.withColumn(name, expr(sql))
        }
        // ONE stack() unpivot, not a 5-arm union: CollapseProject
        // inlines the 15-level recursion into near-exponential
        // expression trees, and a union re-plans that tree once PER
        // ARM — 5x the Catalyst time on a query whose execution is 8
        // single-row tasks (measured: 5.4s wall, ~4s of it in job
        // gaps, i.e. driver planning)
        val stackArgs = (1 to maxLag)
          .map(k => s"CAST($k AS BIGINT), p_${k}_$k").mkString(", ")
        solved.selectExpr("event_type",
            s"stack($maxLag, $stackArgs) AS (lag, pacf)")
          .orderBy($"event_type", $"lag")
      }))
}
