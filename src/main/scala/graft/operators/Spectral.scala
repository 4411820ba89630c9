package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Single-bin DFT seasonality strength per event type: spectral power
  * at candidate periods (24h / 12h / 8h / 6h) over the hourly value
  * series — the frequency-domain answer to "which cycle dominates",
  * where ts_seasonality's rank test only says "some cycle exists".
  *
  * Determinism: libm trig is NOT bit-portable, so the sin/cos basis is
  * a GENERATED LITERAL table — Scala computes cos(2πk/P) once and
  * embeds the exact same shortest-round-trip literal in both the Spark
  * plan and the oracle SQL (both parsers are correctly-rounded, so the
  * double bits match). Per-term products are snapped to the 1e-4 grid
  * before DECIMAL sums; the final power = sc² + ss² is fixed-order
  * IEEE on identical operands.
  *
  * Scale: one hourly aggregation over events, then |periods|·|types|
  * basis-weighted DECIMAL sums in ONE hash aggregate — the basis table
  * is a 50-row broadcast; nothing sequential, nothing driver-side.
  */
object Spectral {

  private val periods = Seq(24, 12, 8, 6)

  /** (period, idx, cos, sin) literal rows — the shared basis. */
  private val basis: Seq[(Int, Int, Double, Double)] =
    for (p <- periods; k <- 0 until p) yield
      (p, k, Math.cos(2.0 * Math.PI * k / p), Math.sin(2.0 * Math.PI * k / p))

  /** Per (event type, period p): each hour's value `y` times the
    * Fourier basis (cos, sin) of its phase `hb % p`, snapped to 4
    * decimals as DECIMAL(28,8) `tc`/`ts`. */
  private def hourlyTerms(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val hourly = ev
      .groupBy($"event_type",
        (floor(unix_timestamp($"ts")).cast("long") / 3600)
          .cast("long").as("hb"))
      .agg(sum($"value".cast(DecimalType(18, 2))).cast("double").as("y"))
    val b = basis.toDF("p", "k", "c", "s2")
    hourly.join(broadcast(b), $"k" === $"hb" % $"p")
      .select($"event_type", $"p",
        (floor($"y" * $"c" * 10000 + 0.5) / 10000)
          .cast(DecimalType(28, 8)).as("tc"),
        (floor($"y" * $"s2" * 10000 + 0.5) / 10000)
          .cast(DecimalType(28, 8)).as("ts"))
  }

  /** SQL mirror of [[hourlyTerms]]: `hourly`, the basis `b` and `terms`. */
  private def sqlHourlyTerms: String = {
    val rows = basis.map { case (p, k, c, sn) => s"($p, $k, $c, $sn)" }
      .mkString(",\n            ")
    s"""hourly AS (
          SELECT event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hb,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
          FROM events GROUP BY event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600),
        b(p, k, c, s) AS (
          VALUES
            $rows),
        terms AS (
          SELECT h.event_type, b.p,
                 CAST(floor(h.y * b.c * 10000 + 0.5) / 10000 AS DECIMAL(28,8)) AS tc,
                 CAST(floor(h.y * b.s * 10000 + 0.5) / 10000 AS DECIMAL(28,8)) AS ts
          FROM hourly h JOIN b ON b.k = h.hb % b.p)"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ts_spectral_peak",
      Some(s"""
        WITH $sqlHourlyTerms,
        sums AS (
          SELECT event_type, p,
                 CAST(SUM(tc) AS DOUBLE) AS sc,
                 CAST(SUM(ts) AS DOUBLE) AS ss,
                 COUNT(*) AS n
          FROM terms GROUP BY event_type, p)
        SELECT event_type, CAST(p AS BIGINT) AS period_h,
               CAST(n AS BIGINT) AS n_hours,
               (sc * sc + ss * ss) / (n * n) AS power
        FROM sums
        ORDER BY event_type, period_h
        """.trim),
      (s, d) => {
        import s.implicits._
        val terms = hourlyTerms(s, events(s, d))
        terms.groupBy($"event_type", $"p")
          .agg(sum($"tc").cast("double").as("sc"),
            sum($"ts").cast("double").as("ss"),
            count(lit(1)).as("n"))
          .select($"event_type", $"p".cast("long").as("period_h"),
            $"n".cast("long").as("n_hours"),
            (($"sc" * $"sc" + $"ss" * $"ss") / ($"n" * $"n")).as("power"))
          .orderBy($"event_type", $"period_h")
      }),

    // Spectral entropy + flatness over the same 4-period power
    // spectrum: H = −Σ p·ln p of the normalized powers (÷ln 4 → [0,1];
    // 0 = one cycle owns the series, 1 = white across the candidate
    // periods) and Wiener flatness = geometric/arithmetic power mean.
    // The one-number "is this series worth a seasonal model" gate next
    // to ts_spectral_peak's per-period detail. Powers are snapped to
    // exact DECIMAL before normalization so every ratio divides
    // bit-identical operands; entropy/flatness terms fold in DECIMAL.
    QueryDef(
      "ts_spectral_entropy",
      Some(s"""
        WITH $sqlHourlyTerms,
        pw AS (
          SELECT event_type, p,
                 CAST(${graft.det.sqlSnap9(
          "(CAST(SUM(tc) AS DOUBLE) * CAST(SUM(tc) AS DOUBLE)" +
            " + CAST(SUM(ts) AS DOUBLE) * CAST(SUM(ts) AS DOUBLE))" +
            " / (COUNT(*) * 1.0 * COUNT(*))")} AS DECIMAL(28,12)) AS pow
          FROM terms GROUP BY event_type, p),
        tot AS (
          SELECT event_type, SUM(pow) AS tp, COUNT(*) AS np
          FROM pw GROUP BY event_type),
        probs AS (
          SELECT pw.event_type, t.np,
                 CAST(pw.pow AS DOUBLE) / CAST(t.tp AS DOUBLE) AS pr
          FROM pw JOIN tot t ON t.event_type = pw.event_type)
        SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_periods,
               ${graft.det.sqlSnap9(
          "CAST(SUM(CAST(" + graft.det.sqlSnap9("-pr * ln(pr)") +
            " AS DECIMAL(28,12))) AS DOUBLE) / ln(4.0)")} AS spec_entropy,
               ${graft.det.sqlSnap9(
          "exp(CAST(SUM(CAST(" + graft.det.sqlSnap9("ln(pr)") +
            " AS DECIMAL(28,12))) AS DOUBLE) / MAX(np)) * MAX(np)")} AS flatness
        FROM probs
        GROUP BY event_type
        ORDER BY event_type
        """.trim),
      (s, d) => {
        import s.implicits._
        val terms = hourlyTerms(s, events(s, d))
        val pw = terms.groupBy($"event_type", $"p")
          .agg(graft.det.snap9(
            (sum($"tc").cast("double") * sum($"tc").cast("double")
              + sum($"ts").cast("double") * sum($"ts").cast("double"))
              / (count(lit(1)) * lit(1.0) * count(lit(1))))
            .cast(DecimalType(28, 12)).as("pow"))
        val tot = pw.groupBy($"event_type".as("t_et"))
          .agg(sum($"pow").as("tp"), count(lit(1)).as("np"))
        val probs = pw.join(tot, $"event_type" === $"t_et")
          .select($"event_type", $"np",
            ($"pow".cast("double") / $"tp".cast("double")).as("pr"))
        probs.groupBy($"event_type")
          .agg(max($"np").cast("long").as("n_periods"),
            graft.det.snap9(
              sum(graft.det.snap9(-$"pr" * log($"pr"))
                .cast(DecimalType(28, 12))).cast("double") / log(lit(4.0)))
              .as("spec_entropy"),
            graft.det.snap9(
              exp(sum(graft.det.snap9(log($"pr"))
                .cast(DecimalType(28, 12))).cast("double") / max($"np"))
                * max($"np")).as("flatness"))
          .orderBy($"event_type")
      }))
}
