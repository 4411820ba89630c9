package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Rich-club coefficient and per-user behavioral diversity — two
  * integer-exact concentration metrics closing out the graph and
  * event families.
  *
  * gx_rich_club: edge density among the top-k highest-degree nodes,
  * φ(k) = 2·E_k / (k·(k−1)) — hubs that interconnect (φ → 1) versus
  * hubs that only bridge the periphery (φ → 0); with assortativity
  * −0.70 on this graph the club should be sparse. The club is a
  * bounded top-k (broadcastable); the induced-edge count is two
  * semi-joins.
  *
  * ev_diversity_simpson: Simpson's index per user over event types,
  * D = Σ n_i(n_i−1) / (N(N−1)) — the probability two random events
  * share a type. Pure integer arithmetic with ONE final division —
  * no logs, unlike a Shannon formulation.
  */
object RichClub {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "gx_rich_club",
      Some(s"""
        WITH ${Graph.sqlHashedEdges()},
        deg AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
          GROUP BY n),
        club AS (
          SELECT n FROM deg ORDER BY deg DESC, n LIMIT 50),
        ek AS (
          SELECT COUNT(*) AS m FROM e
          WHERE u IN (SELECT n FROM club) AND v IN (SELECT n FROM club))
        SELECT CAST(50 AS BIGINT) AS club_size,
               CAST(m AS BIGINT) AS club_edges,
               CAST(2 * m AS DOUBLE) / (50 * 49) AS phi
        FROM ek
      """.trim),
      (s, d) => {
        val e = Graph.canonicalEdges(Graph.hashedPairs(lineitem(s, d)))
        val club = Graph.degrees(e)
          .orderBy(col("deg").desc, col("n")).limit(50)
          .select(col("n"))
        val ek = e
          .join(broadcast(club.select(col("n").as("u"))), Seq("u"), "left_semi")
          .join(broadcast(club.select(col("n").as("v"))), Seq("v"), "left_semi")
          .agg(count(lit(1)).as("m"))
        ek.select(lit(50L).as("club_size"),
          col("m").cast("long").as("club_edges"),
          ((lit(2) * col("m")).cast("double") / lit(50 * 49)).as("phi"))
      }),

    QueryDef(
      "ev_diversity_simpson",
      Some("""
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY user_id, event_type),
        m AS (
          SELECT user_id,
                 SUM(n * (n - 1)) AS match_pairs,
                 SUM(n) AS total,
                 COUNT(*) AS n_types
          FROM c GROUP BY user_id)
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(n_types AS BIGINT) AS n_types,
               CAST(total AS BIGINT) AS n_events,
               CASE WHEN total > 1
                    THEN CAST(match_pairs AS DOUBLE) / (total * (total - 1)) END AS simpson
        FROM m
        ORDER BY user_id
      """.trim),
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
          .groupBy($"user_id")
          .agg(sum($"n" * ($"n" - 1)).as("match_pairs"),
            sum($"n").as("total"), count(lit(1)).as("n_types"))
          .select($"user_id", $"n_types", $"total".as("n_events"),
            when($"total" > 1,
              $"match_pairs".cast("double") / ($"total" * ($"total" - 1)))
              .as("simpson"))
          .orderBy($"user_id")
      }))
}
