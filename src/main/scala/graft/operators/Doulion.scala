package graft.operators

import graft.QueryDef
import graft.det
import graft.functions.PortableHash
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** DOULION sparsified triangle counting (Tsourakakis et al., KDD'09):
  * keep each edge with probability p (here a DETERMINISTIC portable-
  * hash coin, p = 1/4), count triangles on the sparsified graph, and
  * scale by 1/p³ — the estimator that turns a shuffle-heavy exact
  * count into a 16×-smaller join at a known variance cost. Reported
  * against the exact count with the realized relative error, so the
  * sparsifier's accuracy is itself oracle-checked (the production
  * question is always "can I trust the cheap count").
  *
  * Determinism: the coin is h32(u:v) % 4 = 0 — bit-identical both
  * engines; counts are exact integers; the estimate and error are
  * exact-int doubles, snapped.
  *
  * Scale: the sparsified wedge join runs on |E|/4 edges (1/16 the
  * wedge volume) with the same degree-oriented bound as
  * gx_triangles; the exact count runs once as the audit baseline.
  */
object Doulion {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_doulion", {
        val coin = PortableHash.sqlH32(
          "CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)")
        Some(s"""
        WITH raw AS (
          SELECT l_orderkey % 29989 AS a, l_partkey % 29989 AS b
          FROM lineitem),
        e AS (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b),
        es AS (
          SELECT u, v FROM e WHERE $coin % 4 = 0),
        tri AS (
          SELECT COUNT(*) AS t
          FROM e x JOIN e y ON y.u = x.v
                 JOIN e z ON z.u = x.u AND z.v = y.v),
        tris AS (
          SELECT COUNT(*) AS ts
          FROM es x JOIN es y ON y.u = x.v
                  JOIN es z ON z.u = x.u AND z.v = y.v),
        ne AS (SELECT COUNT(*) AS n_edges FROM e),
        nes AS (SELECT COUNT(*) AS n_kept FROM es)
        SELECT CAST(ne.n_edges AS BIGINT) AS n_edges,
               CAST(nes.n_kept AS BIGINT) AS n_kept,
               CAST(tri.t AS BIGINT) AS triangles_exact,
               CAST(tris.ts AS BIGINT) AS triangles_sampled,
               ${det.sqlSnap9("tris.ts * 64.0")} AS triangles_est,
               ${det.sqlSnap9("(tris.ts * 64.0 - tri.t) / tri.t")} AS rel_err
        FROM tri CROSS JOIN tris CROSS JOIN ne CROSS JOIN nes
      """.trim)
      },
      (s, d) => {
        val edges = Graph.hashedPairs(lineitem(s, d))
        val e = Graph.canonicalEdges(edges)
        val coin = PortableHash.h32(concat(
          col("u").cast("string"), lit(":"), col("v").cast("string")))
        val es = e.filter(coin % 4 === 0)
          .select(col("u").as("a"), col("v").as("b"))
        val exact = Graph.triangleCount(edges)
          .select(col("triangles").as("t"), col("edges").as("n_edges"))
        val sampled = Graph.triangleCount(es)
          .select(col("triangles").as("ts"), col("edges").as("n_kept"))
        exact.crossJoin(sampled)
          .select(col("n_edges").cast("long").as("n_edges"),
            col("n_kept").cast("long").as("n_kept"),
            col("t").cast("long").as("triangles_exact"),
            col("ts").cast("long").as("triangles_sampled"),
            det.snap9(col("ts") * lit(64.0)).as("triangles_est"),
            det.snap9((col("ts") * lit(64.0) - col("t")) / col("t"))
              .as("rel_err"))
      }))
}
