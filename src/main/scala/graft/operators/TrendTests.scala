package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Nonparametric trend and sequence-information tests: Mann–Kendall S
  * (the distribution-free companion to ts_theil_sen — both run off the
  * same calendar-bounded daily pair join) and the empirical entropy
  * rate of the event-type Markov chain (the sequence-predictability
  * number on top of ev_markov's transition matrix).
  *
  * Both are integer-exact: MK's S is a sum of signs, and the entropy
  * rate integerizes per-transition information as floor(log2(
  * row_total/cnt)) bits — the cross-engine-stable trick shared with
  * ta_unigram_surprisal (a ratio can't sit within an ulp of an integer
  * log2 boundary unless it IS a power of two, where log2 is exact).
  */
object TrendTests {

  val defs: Seq[QueryDef] = Seq(

    // Mann-Kendall per user over daily sums: S = Σ_{i<j} sign(y_j−y_i),
    // tau = S / (n(n−1)/2). |S| near its maximum flags a monotone
    // series without assuming linearity — the standard pre-test before
    // fitting any trend. Exact integer S; one double division for tau.
    QueryDef(
      "ts_mann_kendall",
      Some("""
        WITH daily AS (
          SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS z
          FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')),
        pairs AS (
          SELECT a.user_id,
                 CASE WHEN b.z > a.z THEN 1 WHEN b.z < a.z THEN -1 ELSE 0 END AS sgn
          FROM daily a JOIN daily b
            ON b.user_id = a.user_id AND b.day > a.day)
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(sgn) AS BIGINT) AS mk_s,
               CAST(SUM(sgn) AS DOUBLE) / COUNT(*) AS mk_tau
        FROM pairs
        GROUP BY user_id
        ORDER BY user_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val daily = events(s, d)
          .groupBy($"user_id", date_format($"ts", "yyyy-MM-dd").as("day"))
          .agg((sum($"value".cast(DecimalType(18, 2))) * 100).cast("long").as("z"))
        daily.as("a")
          .join(daily.as("b"),
            $"b.user_id" === $"a.user_id" && $"b.day" > $"a.day")
          .select($"a.user_id".as("user_id"),
            when($"b.z" > $"a.z", 1).when($"b.z" < $"a.z", -1).otherwise(0).as("sgn"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum($"sgn").cast("long").as("mk_s"),
            (sum($"sgn").cast("double") / count(lit(1))).as("mk_tau"))
          .orderBy($"user_id")
      }),

    // Entropy rate of the event-type transition chain: H = Σ_s p(s) ·
    // H(next | s), with per-transition bits integerized as
    // floor(log2(row_total / cnt)) so the weighted average is a ratio
    // of exact integer sums. Reported per from-state and overall —
    // low bits/transition = predictable session flows.
    QueryDef(
      "ev_entropy_rate",
      Some(s"""
        WITH ${Analytics.sqlTransitionCounts("prev_type IS NOT NULL")},
        r AS (
          SELECT prev_type, event_type, cnt,
                 SUM(cnt) OVER (PARTITION BY prev_type) AS row_total
          FROM t),
        b AS (
          SELECT prev_type, cnt,
                 CAST(floor(log2(CAST(row_total AS DOUBLE) / cnt)) AS BIGINT) AS bits
          FROM r)
        SELECT prev_type AS from_type,
               CAST(SUM(cnt) AS BIGINT) AS n_transitions,
               CAST(SUM(bits * cnt) AS BIGINT) AS total_bits,
               CAST(SUM(bits * cnt) AS DOUBLE) / SUM(cnt) AS mean_bits
        FROM b
        GROUP BY prev_type
        ORDER BY from_type
      """.trim),
      (s, d) => {
        import s.implicits._
        val t = Analytics.transitionCounts(events(s, d), $"prev_type".isNotNull)
        val r = t.withColumn("row_total",
          sum($"cnt").over(Window.partitionBy($"prev_type")))
        r.select($"prev_type", $"cnt",
            floor(log2($"row_total".cast("double") / $"cnt")).cast("long").as("bits"))
          .groupBy($"prev_type")
          .agg(count(lit(1)).as("_k"),
            sum($"cnt").as("n_transitions"),
            sum($"bits" * $"cnt").as("total_bits"),
            (sum($"bits" * $"cnt").cast("double") / sum($"cnt")).as("mean_bits"))
          .select($"prev_type".as("from_type"),
            $"n_transitions", $"total_bits", $"mean_bits")
          .orderBy($"from_type")
      }))
}
