package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Controlled-experiment readout and automation detection over the
  * event stream — the two product-analytics shapes an engine serving a
  * growth team runs daily.
  *
  * ev_ab_test: deterministic 50/50 assignment (`user_id % 2` — the
  * hash-bucket assignment every experimentation system uses, minus the
  * salt), then a Welch two-sample t on purchase value. All moments are
  * exact: per-row v² is one IEEE multiply, Σv and Σv² are DECIMAL sums,
  * and the t statistic is a fixed-order double expression afterwards —
  * so the statistic is partitioning-independent and hash-comparable.
  * One aggregation pass computes both arms (conditional sums), one row
  * out: no shuffle grows with user count beyond the single groupBy.
  *
  * ev_bot_detect: inter-event-gap regularity per user. Human traffic is
  * bursty (coefficient of variation of gaps ≈ 1 for Poisson arrivals,
  * higher with sessions); schedulers and scripts are regular (cv ≪ 1).
  * Gaps are exact integer microseconds (unix_micros differences over a
  * (ts, event_id)-ordered lag window — the id breaks timestamp ties
  * identically in both engines), moments are DECIMAL sums of integers,
  * and cv is computed once per user in fixed-order double arithmetic.
  * One window scan + one groupBy; state per user is two sums. The
  * synthetic traffic is near-Poisson (measured cv ∈ [0.78, 1.29] at
  * sf0.01) so the flag threshold sits at 0.85 — the regular tail —
  * to prove the detector can fire; production would use cv ≪ 1.
  */
object Experiments {

  /** The two arms' moments of purchase value under the `user_id % 2`
    * split, as one row: counts `na`/`nb`, sums `sa`/`sb` and sums of
    * squares `qa`/`qb` (DECIMAL-exact sums, then double). */
  private[operators] def abMoments(ev: DataFrame): DataFrame = {
    val p = ev
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("variant"),
        col("value").cast(DecimalType(28, 10)).as("dv"),
        (col("value") * col("value")).cast(DecimalType(38, 10)).as("dv2"))
    p.agg(
      sum(when(col("variant") === 0, 1).otherwise(0)).as("na"),
      sum(when(col("variant") === 1, 1).otherwise(0)).as("nb"),
      sum(when(col("variant") === 0, col("dv"))).cast("double").as("sa"),
      sum(when(col("variant") === 1, col("dv"))).cast("double").as("sb"),
      sum(when(col("variant") === 0, col("dv2"))).cast("double").as("qa"),
      sum(when(col("variant") === 1, col("dv2"))).cast("double").as("qb"))
  }

  /** Arm `arm`'s ("a" or "b") mean over an [[abMoments]] row. */
  private[operators] def abMean(arm: String): Column = col(s"s$arm") / col(s"n$arm")

  /** Arm `arm`'s sample variance over an [[abMoments]] row. */
  private[operators] def abVar(arm: String): Column = {
    val (n, sm, q) = (col(s"n$arm"), col(s"s$arm"), col(s"q$arm"))
    (q - sm * sm / n) / (n - 1)
  }

  /** SQL mirror of [[abMoments]] over a `p(variant, dv, dv2)` CTE. */
  private[operators] def sqlAbMoments: String = """m AS (
          SELECT
            SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS na,
            SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS nb,
            CAST(SUM(CASE WHEN variant = 0 THEN dv END) AS DOUBLE) AS sa,
            CAST(SUM(CASE WHEN variant = 1 THEN dv END) AS DOUBLE) AS sb,
            CAST(SUM(CASE WHEN variant = 0 THEN dv2 END) AS DOUBLE) AS qa,
            CAST(SUM(CASE WHEN variant = 1 THEN dv2 END) AS DOUBLE) AS qb
          FROM p)"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ev_ab_test",
      Some(s"""
        WITH p AS (
          SELECT user_id % 2 AS variant, value,
                 CAST(value AS DECIMAL(28,10)) AS dv,
                 CAST(value * value AS DECIMAL(38,10)) AS dv2
          FROM events WHERE event_type = 'purchase'),
        $sqlAbMoments
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               sa / na AS mean_a, sb / nb AS mean_b,
               (qa - sa * sa / na) / (na - 1) AS var_a,
               (qb - sb * sb / nb) / (nb - 1) AS var_b,
               (sa / na - sb / nb)
                 / sqrt(((qa - sa * sa / na) / (na - 1)) / na
                      + ((qb - sb * sb / nb) / (nb - 1)) / nb) AS t_welch,
               abs((sa / na - sb / nb)
                 / sqrt(((qa - sa * sa / na) / (na - 1)) / na
                      + ((qb - sb * sb / nb) / (nb - 1)) / nb)) > 1.96 AS significant
        FROM m
      """.trim),
      (s, d) => {
        import s.implicits._
        val m = abMoments(events(s, d))
        val (meanA, meanB, varA, varB) = (abMean("a"), abMean("b"), abVar("a"), abVar("b"))
        val t = (meanA - meanB) / sqrt(varA / $"na" + varB / $"nb")
        m.select($"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
          meanA.as("mean_a"), meanB.as("mean_b"),
          varA.as("var_a"), varB.as("var_b"),
          t.as("t_welch"), (abs(t) > 1.96).as("significant"))
      }),

    QueryDef(
      "ev_bot_detect",
      Some("""
        WITH g AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events),
        m AS (
          SELECT user_id, COUNT(*) AS n,
                 CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sg,
                 CAST(SUM(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sq
          FROM g WHERE gap IS NOT NULL
          GROUP BY user_id HAVING COUNT(*) >= 20)
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(n AS BIGINT) AS n_gaps,
               (sg / n) / 1000000.0 AS mean_gap_sec,
               sqrt((sq - sg * sg / n) / (n - 1)) / (sg / n) AS cv,
               sqrt((sq - sg * sg / n) / (n - 1)) / (sg / n) < 0.85 AS is_bot
        FROM m
        ORDER BY user_id
      """.trim),
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        // ordering by the integer microseconds is the same total order
        // as (ts, event_id) — unix_micros is strictly monotone in ts
        val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
        val g = events(s, d)
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
          .withColumn("gap", $"us" - lag($"us", 1).over(w))
          .filter($"gap".isNotNull)
          .select($"user_id", $"gap".cast(DecimalType(38, 0)).as("dg"))
        val m = g.groupBy($"user_id")
          .agg(count(lit(1)).as("n"),
            sum($"dg").cast("double").as("sg"),
            sum($"dg" * $"dg").cast("double").as("sq"))
          .filter($"n" >= 20)
        val mean = $"sg" / $"n"
        val cv = sqrt(($"sq" - $"sg" * $"sg" / $"n") / ($"n" - 1)) / mean
        m.select($"user_id", $"n".cast("long").as("n_gaps"),
          (mean / 1000000.0).as("mean_gap_sec"),
          cv.as("cv"), (cv < 0.85).as("is_bot"))
          .orderBy($"user_id")
      }))
}
