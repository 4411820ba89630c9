package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** 3-node motif census of the hashed co-occurrence graph (the
  * gx_triangles graph): wedges Σ C(d,2), closed triangles, open
  * wedges, 3-stars Σ C(d,3), and global transitivity 3·△/wedges —
  * the structural fingerprint used to compare graph generations and
  * detect bot-ring topology shifts (a census moves long before any
  * single centrality does).
  *
  * Wedge and star counts come from the degree sequence in closed form
  * (one aggregate over degrees); only the triangle count needs the
  * degree-oriented wedge join, reused from [[Graph.triangleCount]] —
  * the sum(outdeg²)-bounded formulation that survives power-law hubs.
  *
  * Determinism: pure integer combinatorics; transitivity is one
  * exact-int ratio (bit-identical unsnapped).
  *
  * Scale: degrees are one hash aggregate; the census adds NO new
  * quadratic step beyond the already-bounded oriented wedge join.
  */
object MotifCensus {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_motif_census",
      Some("""
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
        dsum AS (
          SELECT COUNT(*) AS nodes,
                 SUM(d * (d - 1) // 2) AS wedges,
                 SUM(d * (d - 1) * (d - 2) // 6) AS stars3
          FROM deg),
        tri AS (
          SELECT COUNT(*) AS triangles
          FROM e x JOIN e y ON y.u = x.v
                 JOIN e z ON z.u = x.u AND z.v = y.v),
        es AS (SELECT COUNT(*) AS edges FROM e)
        SELECT CAST(d.nodes AS BIGINT) AS nodes,
               CAST(es.edges AS BIGINT) AS edges,
               CAST(d.wedges AS BIGINT) AS wedges,
               CAST(t.triangles AS BIGINT) AS triangles,
               CAST(d.wedges - 3 * t.triangles AS BIGINT) AS open_wedges,
               CAST(d.stars3 AS BIGINT) AS stars3,
               3.0 * t.triangles / d.wedges AS transitivity
        FROM dsum d CROSS JOIN tri t CROSS JOIN es
      """.trim),
      (s, d) => {
        val edges = Graph.hashedPairs(lineitem(s, d))
        val e = Graph.canonicalEdges(edges)
        val deg = Graph.degrees(e)
        val dsum = deg.agg(
          count(lit(1)).as("nodes"),
          sum(expr("deg * (deg - 1) div 2")).as("wedges"),
          sum(expr("deg * (deg - 1) * (deg - 2) div 6")).as("stars3"))
        val tri = Graph.triangleCount(edges)
          .select(col("triangles"), col("edges"))
        dsum.crossJoin(tri)
          .select(col("nodes").cast("long").as("nodes"),
            col("edges").cast("long").as("edges"),
            col("wedges").cast("long").as("wedges"),
            col("triangles").cast("long").as("triangles"),
            (col("wedges") - lit(3) * col("triangles")).cast("long")
              .as("open_wedges"),
            col("stars3").cast("long").as("stars3"),
            (lit(3.0) * col("triangles") / col("wedges")).as("transitivity"))
      }))
}
