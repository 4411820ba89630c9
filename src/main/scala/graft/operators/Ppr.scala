package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.DataFrame

/** Personalized PageRank — random walks that teleport back to a seed
  * set instead of to every node. The workhorse of graph-based data
  * selection (expand from a trusted seed corpus to "nearby" items) and
  * recommendation ("customers like these five"). Same shuffle
  * discipline as [[Graph.pagerank]]: edges hash-partitioned once by the
  * join key, one co-partitioned shuffled hash join + one
  * map-side-combined DECIMAL aggregate per iteration, ranks
  * checkpointed per round, nothing driver-side (the seed set is k
  * rows, broadcast). The only deltas from global PageRank are the
  * teleport vector (1/|S| on seeds, 0 elsewhere) and the start state.
  */
object Ppr {

  /** Fixed-iteration personalized PageRank over a symmetric edge list.
    * `seeds` is a small (node) frame — broadcast both as the start
    * distribution and as the per-iteration teleport target. */
  def ppr(edges: DataFrame, seeds: DataFrame, nSeeds: Int,
      iters: Int, damping: Double): DataFrame = {
    val e = edges.repartition(8, col("src")).persist() // partition count follows data volume
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("src").as("node"), col("deg")).persist()
    iterate(e, nodes, seeds, nSeeds, iters, damping)
  }

  /** PPR seeded by the top-`nSeeds` degree nodes. The seed selection
    * reads the SAME persisted degree/node table the walk uses — the
    * naïve compose (select seeds from one edge build, walk another)
    * was measured at 2.4× the cost: an extra edge materialization plus
    * two redundant degree aggregates over the fact-fact join. */
  def pprTopDegree(edges: DataFrame, nSeeds: Int,
      iters: Int, damping: Double): DataFrame = {
    val e = edges.repartition(8, col("src")).persist() // partition count follows data volume
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("src").as("node"), col("deg")).persist()
    val seeds = nodes.orderBy(col("deg").desc, col("node"))
      .limit(nSeeds).select(col("node"))
    iterate(e, nodes, seeds, nSeeds, iters, damping)
  }

  private def iterate(e: DataFrame, nodes: DataFrame, seeds: DataFrame,
      nSeeds: Int, iters: Int, damping: Double): DataFrame = {
    val tele = broadcast(seeds.select(col("node"), lit(1.0 / nSeeds).as("tele")))
    // linear loop lineage (rank consumed by ONE join per iteration,
    // next frame rebuilt from the persisted nodes side): no
    // per-iteration checkpoints, same as [[Graph.pagerank]]/[[Graph.hits]]
    // — the whole chain schedules as one job; only the final frame,
    // which callers re-read, is checkpointed.
    var pr = nodes.join(tele, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tele"), lit(0.0)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.select(col("node").as("src"), col("deg"), col("pr"))
          .hint("shuffle_hash"), "src")
        // snap9 before the DECIMAL cast — see Graph.pagerank: the raw
        // double can land in the cross-engine double→decimal rounding
        // zone (this query is where it was measured, sf0.1 row 3)
        .select(col("dst"), graft.det.snap9(col("pr") / col("deg")).as("w"))
        .groupBy(col("dst"))
        .agg(sum(col("w").cast(DecimalType(28, 12))).cast("double").as("s"))
      pr = nodes
        .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
        .join(tele, Seq("node"), "left")
        .select(col("node"), col("deg"),
          (lit(1.0 - damping) * coalesce(col("tele"), lit(0.0)) +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"))
    }
    pr.select(col("node"), col("pr")).localCheckpoint()
  }

  private def sqlIter(i: Int): String =
    s"""p$i AS (
         SELECT n.node, n.deg,
                (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * COALESCE(t.tele, CAST(0 AS DOUBLE))
                  + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)) AS pr
         FROM nodes n
         LEFT JOIN (
           SELECT e.dst,
                  CAST(SUM(CAST(round(p.pr / p.deg * 1e9) / 1e9 AS DECIMAL(28,12))) AS DOUBLE) AS s
           FROM e JOIN p${i - 1} p ON e.src = p.node
           GROUP BY e.dst) c ON c.dst = n.node
         LEFT JOIN tele t ON t.node = n.node)"""

  val defs: Seq[QueryDef] = Seq(

    // PPR from the five highest-degree customers over the bipartite
    // purchase graph (the gx_pagerank graph): "which suppliers and
    // customers are closest to our whale accounts". Seeds are a
    // degree top-k (deterministic ties on node id); scores use the
    // exact same arithmetic as global PageRank — DECIMAL contribution
    // sums, fixed-order double teleport mix — so the oracle's
    // unrolled iterations hash-match.
    QueryDef(
      "gx_ppr",
      Some(s"""
        WITH ${Graph.sqlTradeEdges},
        deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        nodes AS (SELECT src AS node, deg FROM deg),
        tele AS (
          SELECT node, CAST(1 AS DOUBLE) / 5 AS tele FROM (
            SELECT node FROM nodes ORDER BY deg DESC, node LIMIT 5)),
        p0 AS (
          SELECT n.node, n.deg, COALESCE(t.tele, 0.0) AS pr
          FROM nodes n LEFT JOIN tele t ON t.node = n.node),
        ${(1 to Graph.iters).map(sqlIter).mkString(",\n")}
        SELECT CAST(node AS BIGINT) AS node, pr
        FROM p${Graph.iters}
        WHERE pr > 0.0
        ORDER BY pr DESC, node
        LIMIT 20
      """.trim),
      (s, d) => {
        val e0 = Graph.tradeEdges(s, d)
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        pprTopDegree(edges, 5, Graph.iters, Graph.damping)
          .filter(col("pr") > 0.0)
          .orderBy(col("pr").desc, col("node"))
          .limit(20)
          .select(col("node").cast("bigint").as("node"), col("pr"))
      }))
}
