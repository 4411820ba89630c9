package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Absorbing-Markov-chain time-to-conversion (Kemeny & Snell,
  * Finite Markov Chains ch. III): with 'purchase' absorbing and the
  * empirical event-type transition matrix Q over the transient types,
  * the expected steps to absorption E = (I−Q)⁻¹·1 solves
  * E = 1 + Q·E — evaluated as 12 fixed value-iteration rounds (an
  * exact geometric-series truncation, identical in both engines)
  * instead of a matrix inverse no SQL engine has. The funnel-free
  * answer to "how many actions away is a purchase from each state",
  * which path-counting (ev_user_paths) and one-step transitions
  * (ev_markov) don't give.
  *
  * States with no purchase-reachable path keep a finite truncated
  * value (documented truncation at k=12, identical both engines).
  *
  * Determinism: Q's probabilities are exact count ratios; every
  * iteration's Q·E products are snapped into DECIMAL(28,12) sums, so
  * all 12 rounds are bit-reproducible.
  *
  * Scale: the chain state is |types|² counts — ONE data-sized
  * aggregate, then 12 folds over a bounded matrix; at 100 TB only
  * the first aggregate sees the events.
  */
object Absorption {

  private val iters = 12

  private def sqlIter(i: Int): String = {
    val prev = if (i == 1) "e0" else s"e${i - 1}"
    s"""e$i AS MATERIALIZED (
      SELECT q.from_type AS t,
             1.0 + CAST(SUM(CAST(${det.sqlSnap9("q.prob * p.e")}
               AS DECIMAL(28,12))) AS DOUBLE) AS e
      FROM q JOIN $prev p ON p.t = q.to_type
      GROUP BY q.from_type)"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ev_absorption_time",
      Some(s"""
        WITH ${Analytics.sqlTransitionCounts(
          "prev_type IS NOT NULL AND prev_type <> 'purchase'")},
        -- denominators INCLUDE transitions into the absorbing state:
        -- Q must be strictly substochastic or E never converges
        den AS (SELECT prev_type, SUM(cnt) AS tot FROM t GROUP BY prev_type),
        q AS MATERIALIZED (
          SELECT t.prev_type AS from_type, t.event_type AS to_type,
                 CAST(t.cnt AS DOUBLE) / CAST(den.tot AS BIGINT) AS prob
          FROM t JOIN den ON den.prev_type = t.prev_type
          WHERE t.event_type <> 'purchase'),
        states AS (SELECT DISTINCT from_type AS t FROM q),
        e0 AS (SELECT t, CAST(1 AS DOUBLE) AS e FROM states),
        ${(1 to iters).map(sqlIter).mkString(",\n")}
        SELECT t AS state, ${det.sqlSnap9("e")} AS expected_steps
        FROM e$iters
        ORDER BY state
      """.trim),
      (s, d) => {
        import s.implicits._
        val t = Analytics.transitionCounts(events(s, d),
          $"prev_type".isNotNull && $"prev_type" =!= "purchase")
        val den = t.groupBy($"prev_type".as("d_pt"))
          .agg(sum($"cnt").as("tot"))
        val q = t.filter($"event_type" =!= "purchase")
          .join(den, $"prev_type" === $"d_pt")
          .select($"prev_type".as("from_type"), $"event_type".as("to_type"),
            ($"cnt".cast("double") / $"tot".cast("long")).as("prob"))
          .localCheckpoint() // consumed 12 times below
        val states = q.select($"from_type".as("t")).distinct()
        var e: DataFrame = states.withColumn("e", lit(1.0))
        for (_ <- 1 to iters) {
          e = q.join(e.withColumnRenamed("t", "p_t"), $"p_t" === $"to_type")
            .groupBy($"from_type".as("t"))
            .agg((lit(1.0) + sum(det.snap9($"prob" * $"e")
              .cast(DecimalType(28, 12))).cast("double")).as("e"))
            .localCheckpoint()
        }
        e.select($"t".as("state"), det.snap9($"e").as("expected_steps"))
          .orderBy($"state")
      }))
}
