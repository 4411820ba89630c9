package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Katz centrality (Katz, Psychometrika 1953) on the symmetrized
  * customer–supplier trade graph (the gx_pagerank graph): x⁽ᵗ⁺¹⁾ =
  * 1 + β·Aᵀx⁽ᵗ⁾, five fixed iterations from x⁽⁰⁾ = 1, β = 0.001
  * (well under 1/λ_max for this graph's degree scale, so the partial
  * sums are convergent Katz walk counts, not a diverging series).
  * Unlike PageRank's degree normalization, Katz counts attenuated
  * walks of every length — the centrality of choice when edge
  * multiplicity should add rather than split influence.
  *
  * Determinism: per-edge contributions are snapped to the 1e-9 grid
  * and summed in DECIMAL(28,12) per target (the gx_pagerank recipe),
  * so the per-node fold is order-free.
  *
  * Scale: edges are hash-partitioned on src ONCE and persisted; each
  * iteration is one shuffled-hash aggregate over edges ⋈ scores plus
  * a broadcast-size score update — the same bounded-iteration shape
  * as gx_pagerank, no driver-side state beyond the top-20 collect.
  */
object Katz {

  private val iters = 5
  private val beta = "0.001"

  private def sqlIter(i: Int): String = {
    val prev = if (i == 1) "k0" else s"k${i - 1}"
    s"""c$i AS (
         SELECT e.dst,
                CAST(SUM(CAST(${det.sqlSnap9(s"CAST($beta AS DOUBLE) * p.x")}
                  AS DECIMAL(28,12))) AS DOUBLE) AS s
         FROM e JOIN $prev p ON e.src = p.node
         GROUP BY e.dst),
       k$i AS (
         SELECT nodes.node,
                CAST(1 AS DOUBLE) + COALESCE(c.s, CAST(0 AS DOUBLE)) AS x
         FROM nodes LEFT JOIN c$i c ON nodes.node = c.dst)"""
  }

  private def katz(edges: DataFrame, iters: Int, parts: Int): DataFrame = {
    val e = edges.repartition(parts, col("src")).persist() // parts scan-derived (Graph.dataParts) at the call site
    val nodes = e.select(col("src").as("node")).distinct().persist()
    // Lazy composition across iterations — the gx_pagerank shape: a
    // localCheckpoint per iteration serialized the loop into 5 eager
    // jobs (and its LogicalRDD leaf reports unknown stats); composing
    // the 5 iterations into ONE plan lets AQE pipeline the stages, and
    // the shuffle_hash hint keeps the per-iteration e⋈x join on e's
    // persisted hash partitioning instead of sorting both sides.
    var x = nodes.withColumn("x", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = e.join(x.withColumnRenamed("node", "xn")
          .hint("shuffle_hash"),
          col("src") === col("xn"))
        .groupBy(col("dst"))
        .agg(sum(det.snap9(lit(beta.toDouble) * col("x"))
          .cast(DecimalType(28, 12))).cast("double").as("s"))
      x = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0) + coalesce(col("s"), lit(0.0))).as("x"))
    }
    x
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_katz",
      Some(s"""
        WITH ${Graph.sqlTradeEdges},
        nodes AS (SELECT DISTINCT src AS node FROM e),
        k0 AS (SELECT node, CAST(1 AS DOUBLE) AS x FROM nodes),
        ${(1 to iters).map(sqlIter).mkString(",\n")}
        SELECT CAST(node AS BIGINT) AS node, ${det.sqlSnap9("x")} AS katz
        FROM k$iters
        ORDER BY katz DESC, node
        LIMIT 20
      """.trim),
      (s, d) => {
        val e0 = Graph.tradeEdges(s, d)
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        katz(edges, iters, Graph.dataParts(lineitem(s, d)))
          .orderBy(det.snap9(col("x")).desc, col("node"))
          .limit(20)
          .select(col("node").cast("long").as("node"),
            det.snap9(col("x")).as("katz"))
      }))
}
