package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Ego-network density of the top hubs (Burt's structural holes
  * reading): for the 10 highest-degree nodes of the co-occurrence
  * graph, the share of possible edges AMONG their neighbors that
  * actually exist. Dense egos are redundant cliques; sparse egos are
  * brokers bridging otherwise-disconnected parts — the micro-level
  * diagnosis under gx_clustering_coeff's global average.
  *
  * Determinism: pure integer edge counting; density is one exact-int
  * ratio; the hub top-10 ties break on node id.
  *
  * Scale: the neighbor-pair join is RESTRICTED to the 10 ego
  * neighborhoods before any pair forms (ego membership is a broadcast
  * semi-filter), so the quadratic step is Σ deg(hub)² over ten hubs,
  * not the whole graph — the same bounded-fan-out discipline as the
  * oriented triangle count.
  */
object EgoDensity {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_ego_density",
      Some("""
        WITH raw AS (
          SELECT l_orderkey % 29989 AS a, l_partkey % 29989 AS b
          FROM lineitem),
        e AS (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b),
        sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT u AS n, COUNT(*) AS d FROM sym GROUP BY u),
        hubs AS (
          SELECT n AS hub, d FROM deg ORDER BY d DESC, n LIMIT 10),
        nbr AS (
          SELECT h.hub, s.v AS nb
          FROM hubs h JOIN sym s ON s.u = h.hub),
        closed AS (
          SELECT n1.hub, COUNT(*) AS closed_pairs
          FROM nbr n1
          JOIN nbr n2 ON n2.hub = n1.hub AND n1.nb < n2.nb
          JOIN e ON e.u = n1.nb AND e.v = n2.nb
          GROUP BY n1.hub)
        SELECT CAST(h.hub AS BIGINT) AS hub,
               CAST(h.d AS BIGINT) AS degree,
               CAST(COALESCE(c.closed_pairs, 0) AS BIGINT) AS closed_pairs,
               CAST(h.d * (h.d - 1) // 2 AS BIGINT) AS possible_pairs,
               COALESCE(c.closed_pairs, 0) * 1.0 / (h.d * (h.d - 1) / 2)
                 AS ego_density
        FROM hubs h LEFT JOIN closed c ON c.hub = h.hub
        ORDER BY degree DESC, hub
      """.trim),
      (s, d) => {
        import s.implicits._
        val edges = Graph.hashedPairs(lineitem(s, d))
        val e = Graph.canonicalEdges(edges)
        val sym = e.select($"u", $"v")
          .unionByName(e.select($"v".as("u"), $"u".as("v")))
        val deg = sym.groupBy($"u".as("n")).agg(count(lit(1)).as("d"))
        val hubs = deg.orderBy($"d".desc, $"n").limit(10)
          .select($"n".as("hub"), $"d")
        val nbr = broadcast(hubs).join(sym, $"u" === $"hub")
          .select($"hub", $"v".as("nb"))
        val n2 = nbr.select($"hub".as("h2"), $"nb".as("nb2"))
        // closure via Graph.closeWedges, same rationale as
        // triangleCount: the hub-pair stream is Σ hubdeg² — on a
        // densified graph it dwarfs |E|, and a shuffle semi-join would
        // spill it; broadcast under the |E| ceiling, bloom past it
        val closed = Graph.closeWedges(
          nbr.join(n2, $"h2" === $"hub" && $"nb" < $"nb2"), e, "nb", "nb2")
          .groupBy($"hub".as("c_hub"))
          .agg(count(lit(1)).as("closed_pairs"))
        hubs.join(closed, $"hub" === $"c_hub", "left")
          .select($"hub".cast("long").as("hub"),
            $"d".cast("long").as("degree"),
            coalesce($"closed_pairs", lit(0L)).cast("long").as("closed_pairs"),
            expr("d * (d - 1) div 2").cast("long").as("possible_pairs"),
            (coalesce($"closed_pairs", lit(0L)) * lit(1.0)
              / ($"d" * ($"d" - 1) / 2)).as("ego_density"))
          .orderBy($"degree".desc, $"hub")
      }))
}
