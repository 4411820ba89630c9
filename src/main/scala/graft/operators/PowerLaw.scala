package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hill estimator of the degree-distribution tail exponent (Hill,
  * Ann. Stat. 1975; the Clauset-Shalizi-Newman workhorse): over tail
  * degrees d ≥ d_min = 8 of the trade graph,
  * α̂ = 1 + n / Σ ln(d / (d_min − ½)) with the standard discrete
  * continuity correction, plus its standard error (α̂−1)/√n. α in
  * (2, 3) is the scale-free regime where hub-aware algorithms
  * (degree-oriented triangle counting, skew salting) pay off — the
  * one-number justification for this repo's skew defenses.
  *
  * Determinism: degrees are exact integers; each ln term is snapped
  * into a DECIMAL fold; α̂ and its SE are fixed-order doubles from
  * exact sums, snapped.
  *
  * Scale: degrees are one hash aggregate; the estimator is one
  * filtered fold — no sorting, no quantiles.
  */
object PowerLaw {

  private val dMin = 8

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_powerlaw_alpha",
      Some(s"""
        WITH raw AS (
          SELECT l_orderkey % 29989 AS a, l_partkey % 29989 AS b
          FROM lineitem),
        e AS (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b),
        deg AS (
          SELECT n, COUNT(*) AS d FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e)
          GROUP BY n),
        tail AS (
          SELECT d FROM deg WHERE d >= $dMin),
        mo AS (
          SELECT COUNT(*) AS n,
                 CAST(SUM(CAST(${det.sqlSnap9(
          s"ln(d / ($dMin - 0.5))")} AS DECIMAL(28,12))) AS DOUBLE) AS sl
          FROM tail)
        SELECT CAST(n AS BIGINT) AS n_tail,
               CAST($dMin AS BIGINT) AS d_min,
               ${det.sqlSnap9("1.0 + n / sl")} AS alpha,
               ${det.sqlSnap9("(n / sl) / sqrt(n)")} AS alpha_se,
               ${det.sqlSnap9("1.0 + n / sl")} BETWEEN 2.0 AND 3.0
                 AS scale_free_regime
        FROM mo
      """.trim),
      (s, d) => {
        import s.implicits._
        val edges = Graph.hashedPairs(lineitem(s, d))
        val e = Graph.canonicalEdges(edges)
        val deg = Graph.degrees(e)
        val tail = deg.filter($"deg" >= dMin)
        val mo = tail.agg(count(lit(1)).as("n"),
          sum(det.snap9(log($"deg" / (lit(dMin) - 0.5)))
            .cast(DecimalType(28, 12))).cast("double").as("sl"))
        val alpha = det.snap9(lit(1.0) + $"n" / $"sl")
        mo.select($"n".cast("long").as("n_tail"),
          lit(dMin.toLong).as("d_min"),
          alpha.as("alpha"),
          det.snap9(($"n" / $"sl") / sqrt($"n")).as("alpha_se"),
          alpha.between(2.0, 3.0).as("scale_free_regime"))
      }))
}
