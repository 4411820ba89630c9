package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round 3-truss peel over the hashed co-occurrence graph: each
  * round computes per-edge triangle support and drops every edge in no
  * triangle (support < k−2 = 1), the standard cohesive-subgraph
  * refinement one notch stronger than k-core (Cohen 2008). Run to
  * fixpoint the survivors are exactly the 3-truss; two unrolled rounds
  * are reported here (support recounting after the first peel is what
  * distinguishes a truss from a one-shot triangle filter).
  *
  * Scale shape per round: triangle enumeration reuses the
  * degree-ordered orientation (wedge join Σ outdeg² ≤ m√m), support
  * spreads by an inline 3-way edge explode + hash count, and the peel
  * is one semi-join — all hash-partitioned, nothing driver-side. The
  * oracle unrolls the identical two rounds over canonical u<v<w
  * triples.
  */
object Truss {

  /** One peel round: (surviving edges, per-edge support). The triangle
    * set itself is NEVER materialized — at scale triangles can dwarf
    * edges by orders of magnitude, so it streams through the explode →
    * hash-aggregate and only the per-edge support table (bounded by
    * |E|) is cached. The round's triangle count falls out of it
    * exactly as sum(s) / 3 (every triangle contributes support to
    * precisely three edges). r10 job-count cut vs r9 (the repeat
    * exposure-concentrator in two driver bench runs): tri.persist
    * dropped, caches sized to data volume (coalesce 8, the r9
    * LPA/modularity lesson) rather than the 32 shuffle slots. */
  private def peel(e: DataFrame, parts: Int): (DataFrame, DataFrame) = {
    val oriented = Graph.degreeOriented(e, Graph.degrees(e))
      .coalesce(parts)
      .persist()
    // each triangle (wedge src→x, src→y closed by edge (x,y)) supports
    // its three edges; supports spread via ONE explode pass,
    // canonicalized to (u < v), straight into the hash aggregate
    val wedges = Graph.orientedWedges(oriented)
    // closure via Graph.closeWedges: broadcast the closing-edge list
    // under the |E| ceiling (a shuffle semi-join here materializes the
    // whole Σ outdeg² wedge stream to shuffle disk — measured at a
    // 10×-deeper graph: >79 GB of spill, session death), bloom
    // pre-join past broadcast reach.
    val sup = Graph.closeWedges(wedges, e, "x", "y")
      .select(explode(array(
        struct(least(col("src"), col("x")).as("u"), greatest(col("src"), col("x")).as("v")),
        struct(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v")),
        struct(least(col("src"), col("y")).as("u"), greatest(col("src"), col("y")).as("v"))))
        .as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("s"))
      .coalesce(parts)
      .persist()
    // s >= k−2 = 1 for the 3-truss: vacuous on a count aggregate, kept
    // to mirror the oracle's EXISTS … s.s >= 1 and the general-k shape
    val kept = e.join(sup.filter(col("s") >= 1).select(col("u"), col("v")),
      Seq("u", "v"), "left_semi")
    // eager checkpoint between rounds: round 2 references the survivor
    // set ~6 times (degrees ×2, orientation ×2, two semi-joins) and a
    // lazily-cached plan re-embeds all of round 1 in each — the same
    // lineage-truncation rule as the pagerank/BFS loops
    (kept.coalesce(parts).localCheckpoint(), sup)
  }

  /** The two unrolled peel rounds over a canonical edge frame — shared
    * by the fixed-modulus query and its adaptive twin. `parts` is the
    * cached-frame partition count (scan-derived at the call sites). */
  private def twoRounds(e0raw: DataFrame, parts: Int): DataFrame = {
    // e0 is referenced 4× in round 1 (degrees, orientation join,
    // wedge-closure semi-join, edges_in count) and each reference
    // would re-run the scan + DISTINCT shuffle — checkpoint it once
    // at data volume, same as the inter-round survivor sets
    val e0 = Graph.canonicalEdges(e0raw).coalesce(parts).localCheckpoint()
    val (e1, sup0) = peel(e0, parts)
    val (e2, sup1) = peel(e1, parts)
    roundStats(1, e0, e1, sup0)
      .unionByName(roundStats(2, e1, e2, sup1))
      .select(col("round"), col("edges_in").cast("long").as("edges_in"),
        col("edges_kept").cast("long").as("edges_kept"),
        col("triangles").cast("long").as("triangles"))
      .orderBy(col("round"))
  }

  private def roundStats(round: Int, eIn: DataFrame, eOut: DataFrame,
                         sup: DataFrame): DataFrame =
    eIn.agg(count(lit(1)).as("edges_in"))
      .crossJoin(eOut.agg(count(lit(1)).as("edges_kept")))
      // exact integer: 3 support entries per triangle, so SUM(s) DIV 3.
      // COALESCE: on a triangle-free round the support table is empty and
      // SUM(s) is NULL, while the oracle's COUNT(*) FROM triN returns 0.
      .crossJoin(sup.agg(
        expr("CAST(COALESCE(SUM(s) DIV 3, 0) AS BIGINT)").as("triangles")))
      .select(lit(round.toLong).as("round"), col("edges_in"),
        col("edges_kept"), col("triangles"))

  private val sqlRound = (i: Int) => s"""
    tri$i AS (
      SELECT x.u AS a, x.v AS b, y.v AS c
      FROM e$i x JOIN e$i y ON y.u = x.v
      JOIN e$i z ON z.u = x.u AND z.v = y.v),
    sup$i AS (
      SELECT u, v, COUNT(*) AS s FROM (
        SELECT a AS u, b AS v FROM tri$i UNION ALL
        SELECT b, c FROM tri$i UNION ALL
        SELECT a, c FROM tri$i) q
      GROUP BY u, v),
    e${i + 1} AS (
      SELECT e.u, e.v FROM e$i e
      WHERE EXISTS (SELECT 1 FROM sup$i s
                    WHERE s.u = e.u AND s.v = e.v AND s.s >= 1))"""

  /** SQL mirror of [[twoRounds]] over a canonical edge CTE `e0`: both
    * peel rounds and the per-round readout. */
  private def sqlTwoRounds: String = s"""${sqlRound(0)},
        ${sqlRound(1)}
        SELECT CAST(1 AS BIGINT) AS round,
               CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS edges_in,
               CAST((SELECT COUNT(*) FROM e1) AS BIGINT) AS edges_kept,
               CAST((SELECT COUNT(*) FROM tri0) AS BIGINT) AS triangles
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               CAST((SELECT COUNT(*) FROM e1) AS BIGINT),
               CAST((SELECT COUNT(*) FROM e2) AS BIGINT),
               CAST((SELECT COUNT(*) FROM tri1) AS BIGINT)
        ORDER BY round"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_ktruss",
      Some(s"""
        WITH ${Graph.sqlHashedEdges("e0")},
        $sqlTwoRounds
      """.trim),
      (s, d) => {
        val li = lineitem(s, d)
        twoRounds(Graph.hashedPairs(li), Graph.dataParts(li))
      }),
    // The same 3-truss peel over a graph whose node space SCALES with
    // the data — the gx_triangles_adaptive device (r12 verdict #2: the
    // fixed 29989 modulus DENSIFIES at 10× rows — degrees ×10, wedge
    // work ×100, the sf1 artifact's worst superlinear row at ratio 69×
    // / 182 s — which measures the fixture's growth mode, not the
    // operator). modulus = max(29989, |lineitem| DIV 21): identical
    // graph and identical results at every driver scale up to sf0.1,
    // but 10× data grows 10× more NODES at constant degree, so this
    // row pins the peel's own exponent (~linear) next to its
    // densified twin's. The scalar rides in on a broadcast cross
    // join; nothing driver-side.
    QueryDef(
      "gx_ktruss_adaptive",
      Some(s"""
        WITH ${Graph.sqlAdaptiveEdges("e0")},
        $sqlTwoRounds
      """.trim),
      (s, d) => {
        val li = lineitem(s, d)
        twoRounds(Graph.adaptivePairs(li), Graph.dataParts(li))
      }))
}
