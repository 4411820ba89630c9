package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
  * Mandelbrot & Wallis 1969) of the hourly event-count series: for
  * block sizes n ∈ {16, 32, 64, 128}, split the 720-hour series into
  * ⌊720/n⌋ blocks, compute each block's range-of-cumulative-deviations
  * over its standard deviation, average per size, and fit
  * ln E[R/S] ≈ H·ln n + c. H≈0.5 is memoryless, H>0.5 long-range
  * persistent (bursts cluster — the property that decides whether
  * traffic forecasts can use short context), H<0.5 mean-reverting.
  *
  * Missing hours are true zeros via a dense calendar grid (the
  * ts_matrix_profile recipe).
  *
  * Determinism: within a block everything reduces to integers —
  * cumulative deviation numerator Z_t = n·prefix_t − t·S (exact), so
  * R/S = (max Z − min Z)/√(n·Σx² − S²) is ONE double expression from
  * exact integer aggregates, snapped; per-size means fold in DECIMAL;
  * the 4-point ln-ln OLS slope is a fixed-order expression. Blocks
  * with zero variance are excluded by the same integer predicate in
  * both engines.
  *
  * Scale: one hash aggregate to the calendar grid, then keyed windows
  * over (type, size, block) — everything after the first aggregate is
  * calendar-bounded, not data-bounded.
  */
object Hurst {

  private val H = 720
  private val sizes = Seq(16, 32, 64, 128)

  /** Each event type's event count `x` per hour `h` since 2024-01-01
    * 00:00 UTC; hours with no event have no row. */
  private[operators] def hourlyCounts(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("(unix_micros(ts) - 1704067200000000) DIV 3600000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("x"))

  /** Every (event type, hour `h` in [0, hours)) with its
    * [[hourlyCounts]] `x`, null for an empty hour. */
  private[operators] def hourlyGrid(s: SparkSession, d: String, hours: Int): DataFrame = {
    val cnt = hourlyCounts(events(s, d))
    events(s, d).select(col("event_type")).distinct()
      .crossJoin(s.range(0, hours).select(col("id").as("h")))
      .join(cnt, Seq("event_type", "h"), "left")
  }

  /** SQL mirror of [[hourlyGrid]] with empty hours as 0: the `cnt` and
    * `grid(event_type, h, x)` CTEs. */
  private[operators] def sqlHourlyGrid(hours: Int): String = s"""cnt AS (
          SELECT event_type,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 3600000000 AS h,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT t.event_type, g.h, COALESCE(c.x, 0) AS x
          FROM (SELECT DISTINCT event_type FROM events) t
          CROSS JOIN (SELECT UNNEST(range(0, $hours)) AS h) g
          LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = g.h)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_hurst",
      Some(s"""
        WITH ${sqlHourlyGrid(H)},
        sz AS (SELECT UNNEST([${sizes.mkString(", ")}]) AS n),
        blk AS (
          SELECT g.event_type, s.n, g.h // s.n AS b,
                 ROW_NUMBER() OVER (PARTITION BY g.event_type, s.n, g.h // s.n
                                    ORDER BY g.h) AS t,
                 SUM(g.x) OVER (PARTITION BY g.event_type, s.n, g.h // s.n
                                ORDER BY g.h
                                ROWS UNBOUNDED PRECEDING) AS pre,
                 g.x
          FROM grid g CROSS JOIN sz s),
        bs AS (
          SELECT event_type, n, b,
                 SUM(CAST(x AS HUGEINT)) AS sb,
                 SUM(CAST(x AS HUGEINT) * x) AS sq
          FROM blk GROUP BY 1, 2, 3),
        z AS (
          SELECT k.event_type, k.n, k.b, s.sb, s.sq,
                 CAST(k.n AS HUGEINT) * k.pre - CAST(k.t AS HUGEINT) * s.sb AS zt
          FROM blk k JOIN bs s
            ON s.event_type = k.event_type AND s.n = k.n AND s.b = k.b),
        rs0 AS (
          SELECT event_type, n, b,
                 MAX(zt) - MIN(zt) AS zrange,
                 MAX(n) * MAX(sq) - MAX(sb) * MAX(sb) AS vnum
          FROM z
          GROUP BY event_type, n, b),
        rs AS (
          -- zero-variance blocks are excluded BEFORE the division so
          -- neither engine ever evaluates a NaN→DECIMAL cast
          SELECT event_type, n,
                 CAST(${det.sqlSnap9(
          "CAST(zrange AS DOUBLE) / sqrt(CAST(vnum AS DOUBLE))")}
                   AS DECIMAL(28,12)) AS rsv
          FROM rs0 WHERE vnum > 0),
        mean_rs AS (
          SELECT event_type, n,
                 ln(CAST(SUM(rsv) AS DOUBLE) / COUNT(*)) AS y,
                 ln(CAST(n AS DOUBLE)) AS lx
          FROM rs GROUP BY event_type, n),
        fit AS (
          SELECT event_type, COUNT(*) AS k,
                 CAST(SUM(CAST(${det.sqlSnap9("lx")} AS DECIMAL(28,12))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(${det.sqlSnap9("y")} AS DECIMAL(28,12))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(${det.sqlSnap9("lx * y")} AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(${det.sqlSnap9("lx * lx")} AS DECIMAL(28,12))) AS DOUBLE) AS sxx
          FROM mean_rs GROUP BY event_type)
        SELECT event_type, CAST(k AS BIGINT) AS n_sizes,
               ${det.sqlSnap9(
          "(sxy - sx * sy / k) / (sxx - sx * sx / k)")} AS hurst
        FROM fit
        ORDER BY event_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val grid = hourlyGrid(s, d, H)
          .select($"event_type", $"h", coalesce($"x", lit(0L)).as("x"))
        val sz = sizes.toDF("n")
        val bw = Window.partitionBy($"event_type", $"n", $"b").orderBy($"h")
        val blk = grid.crossJoin(sz)
          .withColumn("b", expr("h div n"))
          .withColumn("t", row_number().over(bw))
          .withColumn("pre", sum($"x").over(bw.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        val hug = $"x".cast(DecimalType(38, 0))
        val bs = blk.groupBy($"event_type".as("s_et"), $"n".as("s_n"),
            $"b".as("s_b"))
          .agg(sum(hug).as("sb"), sum(hug * $"x").as("sq"))
        val z = blk.join(bs, $"event_type" === $"s_et"
            && $"n" === $"s_n" && $"b" === $"s_b")
          .select($"event_type", $"n", $"b", $"sb", $"sq",
            ($"n".cast(DecimalType(38, 0)) * $"pre"
              - $"t".cast(DecimalType(38, 0)) * $"sb").as("zt"))
        val rs0 = z.groupBy($"event_type", $"n", $"b")
          .agg((max($"zt") - min($"zt")).as("zrange"),
            (max($"n") * max($"sq") - max($"sb") * max($"sb")).as("vnum"))
        val rs = rs0.filter($"vnum" > 0)
          .select($"event_type", $"n",
            det.snap9($"zrange".cast("double") / sqrt($"vnum".cast("double")))
              .cast(DecimalType(28, 12)).as("rsv"))
        val meanRs = rs.groupBy($"event_type", $"n")
          .agg(log(sum($"rsv").cast("double") / count(lit(1))).as("y"))
          .withColumn("lx", log($"n".cast("double")))
        val fit = meanRs.groupBy($"event_type")
          .agg(count(lit(1)).as("k"),
            sum(det.snap9($"lx").cast(DecimalType(28, 12))).cast("double").as("sx"),
            sum(det.snap9($"y").cast(DecimalType(28, 12))).cast("double").as("sy"),
            sum(det.snap9($"lx" * $"y").cast(DecimalType(28, 12))).cast("double").as("sxy"),
            sum(det.snap9($"lx" * $"lx").cast(DecimalType(28, 12))).cast("double").as("sxx"))
        fit.select($"event_type", $"k".cast("long").as("n_sizes"),
            det.snap9(($"sxy" - $"sx" * $"sy" / $"k")
              / ($"sxx" - $"sx" * $"sx" / $"k")).as("hurst"))
          .orderBy($"event_type")
      }))
}
