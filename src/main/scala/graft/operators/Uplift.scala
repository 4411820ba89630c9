package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Qini curve (Radcliffe 2007) — the standard evaluation of an uplift
  * / targeting model: rank users by a model score, and per score
  * decile report the cumulative incremental conversions
  * Qini(k) = CT_k − CC_k · NT_k / NC_k (treated converters so far,
  * minus control converters scaled to the treated exposure). A useful
  * model front-loads positive increments; the random baseline is a
  * straight line to the same endpoint.
  *
  * Fixture semantics: treatment is the ev_ab_test assignment
  * (user_id % 2), conversion is any purchase event, and the targeting
  * score is pre-period engagement (non-purchase events in the first
  * 14 days) — a deterministic stand-in for a trained uplift score
  * with realistic ties.
  *
  * Determinism: all counts integer; deciles are ntile(10) under the
  * total order (score DESC, user_id); qini/uplift are single
  * fixed-order double expressions, snap9'd.
  *
  * Scale: one per-user aggregate (hash, map-side combined); the
  * decile assignment is NOT a single-partition ntile window — it is
  * [[Pipeline.globalRank]] (range-sharded rank, one count per shard
  * of driver traffic) plus the closed-form ntile bucket formula
  * (first n mod k buckets get ceil(n/k) rows), which reproduces
  * SQL ntile(10) exactly; decile cumulatives are a 10-row fold.
  */
object Uplift {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ev_qini",
      Some(s"""
        WITH ${Propensity.sqlArmsByBucket(10, "decile")},
        c AS (
          SELECT decile, n_t, n_c, conv_t, conv_c,
                 SUM(n_t) OVER (ORDER BY decile) AS cnt,
                 SUM(n_c) OVER (ORDER BY decile) AS cnc,
                 SUM(conv_t) OVER (ORDER BY decile) AS cct,
                 SUM(conv_c) OVER (ORDER BY decile) AS ccc
          FROM g)
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
               CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c,
               ${det.sqlSnap9(
          "conv_t * 1.0 / NULLIF(n_t, 0) - conv_c * 1.0 / NULLIF(n_c, 0)")} AS uplift,
               ${det.sqlSnap9(
          "cct - ccc * (cnt * 1.0 / NULLIF(cnc, 0))")} AS qini
        FROM c
        ORDER BY decile
      """.trim),
      (s, d) => {
        import s.implicits._
        val g = Propensity.armsByBucket(s, d, 10, "decile")
        val wc = Window.orderBy($"decile")
        g.select($"decile".cast("long").as("decile"),
            $"n_t".cast("long").as("n_t"), $"n_c".cast("long").as("n_c"),
            $"conv_t".cast("long").as("conv_t"),
            $"conv_c".cast("long").as("conv_c"),
            det.snap9($"conv_t" * lit(1.0) / nullif($"n_t", lit(0))
              - $"conv_c" * lit(1.0) / nullif($"n_c", lit(0))).as("uplift"),
            det.snap9(sum($"conv_t").over(wc)
              - sum($"conv_c").over(wc)
              * (sum($"n_t").over(wc) * lit(1.0) / nullif(sum($"n_c").over(wc), lit(0))))
              .as("qini"))
          .orderBy($"decile")
      }))
}
