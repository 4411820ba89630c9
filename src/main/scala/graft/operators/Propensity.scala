package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Propensity-score stratification (Rosenbaum & Rubin 1983;
  * Cochran 1968's five-strata rule): users are ranked by a
  * pre-treatment engagement score, cut into quintiles, and the
  * treated-vs-control conversion gap is estimated WITHIN each stratum
  * then averaged with treated weights — the ATT. The summary row
  * (stratum 99) carries both the naive unadjusted gap and the
  * stratified ATT, so the query surfaces exactly how much confounding
  * the adjustment removed.
  *
  * Fixture semantics follow ev_qini: treatment = user_id parity,
  * conversion = any purchase, score = pre-2024-01-15 non-purchase
  * activity.
  *
  * Determinism: strata are exact ntile(5) under (score DESC, user_id);
  * per-stratum rates are fixed-order doubles from integer counts,
  * snapped; the ATT fold routes the five weighted terms through
  * DECIMAL(28,12).
  *
  * Scale: one per-user aggregate; quintile assignment is
  * [[Pipeline.globalRank]] (range-sharded, one count per shard of
  * driver traffic) + the closed-form ntile bucket formula — never a
  * single-partition window; everything after is a 5-row fold.
  */
object Propensity {

  /** Users ranked by pre-period non-purchase activity (`score` desc,
    * user_id) into `k` equal buckets named `bucket`, SQL `ntile(k)`
    * exactly, with per bucket the treated/control (`user_id % 2`) counts
    * `n_t`/`n_c` and converters `conv_t`/`conv_c`. Runs one count job. */
  private[operators] def armsByBucket(s: SparkSession, d: String, k: Int,
      bucket: String): DataFrame = {
    import s.implicits._
    val u = events(s, d)
      .groupBy($"user_id")
      .agg(
        sum(when($"event_type" =!= "purchase"
          && $"ts".cast("date") < lit("2024-01-15").cast("date"), 1)
          .otherwise(0)).as("score"),
        max(when($"event_type" === "purchase", 1).otherwise(0)).as("conv"))
      .select(($"user_id" % 2).as("treat"), $"score", $"conv", $"user_id")
    // globalRank yields a 0-based dense total-order rank; ntile(k)
    // over n rows assigns the first n%k buckets ceil(n/k) rows and
    // the rest floor(n/k) — both branches in closed form from rank.
    val ranked = Pipeline.globalRank(u, Seq($"score".desc, $"user_id"))
    val n = ranked.count()
    val (q, m) = (n / k, n % k)
    val r = ranked.withColumn(bucket,
      when($"rank" < m * (q + 1), expr(s"rank div ${q + 1}"))
        .otherwise(lit(m) +
          expr(s"(rank - ${m * (q + 1)}) div ${math.max(q, 1L)}"))
        .cast("long") + lit(1L))
    r.groupBy(col(bucket))
      .agg(
        sum(when($"treat" === 1, 1).otherwise(0)).as("n_t"),
        sum(when($"treat" === 0, 1).otherwise(0)).as("n_c"),
        sum(when($"treat" === 1, $"conv").otherwise(0)).as("conv_t"),
        sum(when($"treat" === 0, $"conv").otherwise(0)).as("conv_c"))
  }

  /** SQL mirror of [[armsByBucket]]: the `u`, `r` and `g` CTEs. */
  private[operators] def sqlArmsByBucket(k: Int, bucket: String): String = s"""u AS (
          SELECT user_id, user_id % 2 AS treat,
                 SUM(CASE WHEN event_type <> 'purchase'
                          AND CAST(ts AS DATE) < DATE '2024-01-15'
                     THEN 1 ELSE 0 END) AS score,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id),
        r AS (
          SELECT treat, conv,
                 ntile($k) OVER (ORDER BY score DESC, user_id) AS $bucket
          FROM u),
        g AS (
          SELECT $bucket,
                 SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS n_t,
                 SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS n_c,
                 SUM(CASE WHEN treat = 1 THEN conv ELSE 0 END) AS conv_t,
                 SUM(CASE WHEN treat = 0 THEN conv ELSE 0 END) AS conv_c
          FROM r GROUP BY $bucket)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ev_propensity_strata",
      Some(s"""
        WITH ${sqlArmsByBucket(5, "stratum")},
        tot AS (SELECT SUM(n_t) AS nt FROM g),
        per AS (
          SELECT stratum, n_t, n_c, conv_t, conv_c,
                 ${det.sqlSnap9(
          "conv_t * 1.0 / NULLIF(n_t, 0) - conv_c * 1.0 / NULLIF(n_c, 0)")} AS diff,
                 CAST(${det.sqlSnap9(
          "(n_t * 1.0 / tot.nt) * (conv_t * 1.0 / NULLIF(n_t, 0)" +
            " - conv_c * 1.0 / NULLIF(n_c, 0))")} AS DECIMAL(28,12)) AS term
          FROM g CROSS JOIN tot)
        SELECT CAST(stratum AS BIGINT) AS stratum,
               CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
               CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c,
               diff, diff AS att
        FROM per
        UNION ALL
        SELECT CAST(99 AS BIGINT), CAST(SUM(n_t) AS BIGINT),
               CAST(SUM(n_c) AS BIGINT), CAST(SUM(conv_t) AS BIGINT),
               CAST(SUM(conv_c) AS BIGINT),
               ${det.sqlSnap9(
          "SUM(conv_t) * 1.0 / SUM(n_t) - SUM(conv_c) * 1.0 / SUM(n_c)")},
               CAST(SUM(term) AS DOUBLE)
        FROM per
        ORDER BY stratum
      """.trim),
      (s, d) => {
        import s.implicits._
        val g = armsByBucket(s, d, 5, "stratum")
        val tot = g.agg(sum($"n_t").as("nt"))
        val diffC = det.snap9($"conv_t" * lit(1.0) / nullif($"n_t", lit(0))
          - $"conv_c" * lit(1.0) / nullif($"n_c", lit(0)))
        val per = g.crossJoin(tot)
          .select($"stratum", $"n_t", $"n_c", $"conv_t", $"conv_c",
            diffC.as("diff"),
            det.snap9(($"n_t" * lit(1.0) / $"nt")
              * ($"conv_t" * lit(1.0) / nullif($"n_t", lit(0))
                - $"conv_c" * lit(1.0) / nullif($"n_c", lit(0))))
              .cast(DecimalType(28, 12)).as("term"))
        val strata = per.select($"stratum".cast("long").as("stratum"),
          $"n_t".cast("long").as("n_t"), $"n_c".cast("long").as("n_c"),
          $"conv_t".cast("long").as("conv_t"),
          $"conv_c".cast("long").as("conv_c"),
          $"diff", $"diff".as("att"))
        val summary = per.agg(
          lit(99L).as("stratum"),
          sum($"n_t").cast("long").as("n_t"),
          sum($"n_c").cast("long").as("n_c"),
          sum($"conv_t").cast("long").as("conv_t"),
          sum($"conv_c").cast("long").as("conv_c"),
          det.snap9(sum($"conv_t") * lit(1.0) / sum($"n_t")
            - sum($"conv_c") * lit(1.0) / sum($"n_c")).as("diff"),
          sum($"term").cast("double").as("att"))
          .select($"stratum", $"n_t", $"n_c", $"conv_t", $"conv_c",
            $"diff", $"att")
        strata.unionByName(summary).orderBy($"stratum")
      }))
}
