package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Experiment power analysis — the companion readout to
  * [[Experiments]]'s ev_ab_test: given the measured per-arm variances
  * and sample sizes, what's the minimal detectable effect at
  * two-sided α = 0.05 and 80 % power, and is the observed lift above
  * it? MDE = (z_{α/2} + z_{power})·√(s²_a/n_a + s²_b/n_b) with the z
  * quantiles as shared literals (1.959964, 0.841621) so both engines
  * evaluate the identical fixed-order double expression over the same
  * DECIMAL-exact moments. Same single-pass conditional aggregate as
  * the t-test: one row of state, no per-user join.
  */
object Power {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ev_ab_power",
      Some(s"""
        WITH p AS (
          SELECT user_id % 2 AS variant,
                 CAST(value AS DECIMAL(28,10)) AS dv,
                 CAST(value * value AS DECIMAL(38,10)) AS dv2
          FROM events WHERE event_type = 'purchase'),
        ${Experiments.sqlAbMoments}
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               sa / na AS mean_a, sb / nb AS mean_b,
               (1.959964 + 0.841621)
                 * sqrt(((qa - sa * sa / na) / (na - 1)) / na
                      + ((qb - sb * sb / nb) / (nb - 1)) / nb) AS mde_abs,
               ((1.959964 + 0.841621)
                 * sqrt(((qa - sa * sa / na) / (na - 1)) / na
                      + ((qb - sb * sb / nb) / (nb - 1)) / nb)) / (sa / na) AS mde_rel,
               abs(sa / na - sb / nb)
                 > (1.959964 + 0.841621)
                 * sqrt(((qa - sa * sa / na) / (na - 1)) / na
                      + ((qb - sb * sb / nb) / (nb - 1)) / nb) AS powered
        FROM m
      """.trim),
      (s, d) => {
        import s.implicits._
        val m = Experiments.abMoments(events(s, d))
        val (meanA, meanB, varA, varB) = (Experiments.abMean("a"),
          Experiments.abMean("b"), Experiments.abVar("a"), Experiments.abVar("b"))
        val mde = (lit(1.959964) + lit(0.841621)) * sqrt(varA / $"na" + varB / $"nb")
        m.select($"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
          meanA.as("mean_a"), meanB.as("mean_b"),
          mde.as("mde_abs"), (mde / meanA).as("mde_rel"),
          (abs(meanA - meanB) > mde).as("powered"))
      }))
}
