package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Greedy-vs-transitive dedup accounting over the same near-dup pairs
  * — the audit a curation team runs before picking a dedup policy.
  * Greedy (drop any doc with a smaller-id near-dup partner — the
  * SemDeDup convention) and connected-components (drop everything but
  * one representative per transitive cluster) answer different
  * questions: CC also removes B when A~B, B~C but A≁C, chaining
  * through documents that were never directly similar. The gap between
  * the two counts is exactly that chaining effect, and on a corpus
  * with template families it decides retention volume.
  *
  * Greedy drops are a subset of CC drops by construction (a doc with a
  * smaller-id partner has a transitive min below itself), so
  * extra_transitive = cc − greedy is nonnegative; the audit makes the
  * inflation a checked number.
  *
  * Scale: pairs come from the banded MinHash join (no n²); greedy is
  * one distinct; CC is the alternating large-star/small-star fixpoint
  * already powering dd_dup_clusters. The oracle replays both policies
  * — the greedy distinct and a recursive-CTE transitive closure.
  */
object DedupAudit {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "dd_greedy_vs_cc",
      Some(s"""
        WITH RECURSIVE ${Dedup.sqlLshPairsCtes()},
        ${Dedup.sqlClosureMins},
        g AS (SELECT COUNT(DISTINCT j) AS greedy FROM pairs),
        c AS (SELECT COUNT(*) AS cc FROM mins WHERE mn < doc_id),
        np AS (SELECT COUNT(*) AS n_pairs FROM pairs)
        SELECT CAST(np.n_pairs AS BIGINT) AS n_pairs,
               CAST(g.greedy AS BIGINT) AS greedy_dropped,
               CAST(c.cc AS BIGINT) AS cc_dropped,
               CAST(c.cc - g.greedy AS BIGINT) AS extra_transitive
        FROM np CROSS JOIN g CROSS JOIN c
      """.trim),
      (s, d) => {
        val docs = documents(s, d)
        val pairs = Dedup.minhashLshPairs(docs).localCheckpoint()
        val np = pairs.agg(count(lit(1)).as("n_pairs"))
        val g = pairs.agg(countDistinct(col("j")).as("greedy"))
        val c = Dedup.duplicateClusters(docs, pairs)
          .filter(col("cluster_rep") < col("doc_id"))
          .agg(count(lit(1)).as("cc"))
        np.crossJoin(g).crossJoin(c)
          .select(col("n_pairs").cast("long").as("n_pairs"),
            col("greedy").cast("long").as("greedy_dropped"),
            col("cc").cast("long").as("cc_dropped"),
            (col("cc") - col("greedy")).cast("long").as("extra_transitive"))
      }),

    // Average-neighbor-degree curve k_nn(k) (Pastor-Satorras et al.
    // 2001) — the degree-resolved view of the assortativity scalar:
    // for nodes of each degree k, the mean degree of their neighbors.
    // A falling curve is hub-periphery structure (this graph:
    // r = −0.70), flat is uncorrelated. Exact integer sums (Σ neighbor
    // degree per node-degree bucket) with one double division per
    // bucket; one degree aggregate + one edge-degree join, all
    // node-keyed shuffles.
    QueryDef(
      "gx_knn_degree",
      Some(s"""
        WITH ${Graph.sqlHashedEdges("e0")},
        e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
        nd AS (
          SELECT du.deg AS k, dv.deg AS nbr_deg
          FROM e
          JOIN deg du ON du.node = e.src
          JOIN deg dv ON dv.node = e.dst)
        SELECT CAST(k AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_endpoints,
               CAST(SUM(nbr_deg) AS BIGINT) AS sum_nbr_deg,
               CAST(SUM(nbr_deg) AS DOUBLE) / COUNT(*) AS knn
        FROM nd
        GROUP BY k
        ORDER BY k
      """.trim),
      (s, d) => {
        val e = Graph.canonicalEdges(Graph.hashedPairs(lineitem(s, d)))
        val sym = e.select(col("u").as("src"), col("v").as("dst"))
          .union(e.select(col("v").as("src"), col("u").as("dst")))
        val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        sym
          .join(deg.select(col("node").as("src"), col("deg").as("k")), "src")
          .join(deg.select(col("node").as("dst"), col("deg").as("nbr_deg")), "dst")
          .groupBy(col("k").cast("long").as("k"))
          .agg(count(lit(1)).as("n_endpoints"),
            sum(col("nbr_deg")).cast("long").as("sum_nbr_deg"),
            (sum(col("nbr_deg")).cast("double") / count(lit(1))).as("knn"))
          .orderBy(col("k"))
      }))
}
