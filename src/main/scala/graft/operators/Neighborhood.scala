package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood function (distance distribution) from a seed sample —
  * the building block of effective-diameter estimation. From the 10
  * lowest-id customer nodes of the bipartite purchase graph, expand
  * breadth-first to radius 3 and report how many (seed, node) pairs
  * are reachable within each radius.
  *
  * Each round is one equi-join frontier ⋈ edges plus a distinct — both
  * hash-shuffles on node id, state bounded by |seeds|·|nodes| pairs,
  * nothing driver-side but the four per-radius counts. This is the
  * exact small-seed-sample variant; the all-sources production path at
  * 100 TB is HyperANF (Boldi–Rosa–Vigna WWW'11): replace the explicit
  * (seed, node) pair set with per-node HLL registers merged along
  * edges, which [[Sketches]]' HLL merge already demonstrates. The
  * DuckDB oracle is a recursive CTE over the same edge list with
  * min-depth per pair — integer counts, bit-exact.
  */
object Neighborhood {

  /** Per radius r in 0..3, the number of (seed, node) pairs within r
    * hops of the pairs `start(seed, node)` over the edges `e(src, dst)`.
    * Frontier-only expansion: each round joins ONLY the nodes first
    * reached last round (not the whole accumulated reach set), and the
    * anti-join keeps the union disjoint so no global distinct over the
    * growing pair set is ever needed — per-round cost is proportional
    * to the new frontier, the textbook BFS discipline. Iteration state
    * is EAGER localCheckpoints, not persist: a lazily-persisted
    * next-state whose predecessor is unpersisted before first
    * materialization silently recomputes the whole lineage chain every
    * round — checkpointing truncates it. */
  private def reachCounts(start: DataFrame, e: DataFrame): Seq[(Long, Long)] = {
    val spark = start.sparkSession
    import spark.implicits._
    var reach = start.localCheckpoint().toDF("seed", "node")
    var frontier = reach
    val counts = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var total = reach.count()
    counts += ((0L, total))
    for (r <- 1 to 3) {
      val cand = frontier.as("f")
        .join(e.as("ed"), $"f.node" === $"ed.src")
        .select($"f.seed".as("seed"), $"ed.dst".as("node"))
        .distinct()
      val fresh = cand.join(reach, Seq("seed", "node"), "left_anti")
        .localCheckpoint().toDF("seed", "node")
      total += fresh.count()
      counts += ((r.toLong, total))
      // the union of already-checkpointed frames needs no fresh
      // checkpoint of its own — its only consumer is next round's
      // anti-join, which scans the cached components directly
      reach = reach.union(fresh)
      frontier = fresh
    }
    counts.toSeq
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "gx_neighborhood",
      Some(s"""
        WITH RECURSIVE ${Graph.sqlTradeEdges},
        seeds AS (
          SELECT src AS seed FROM (
            SELECT DISTINCT src FROM e WHERE src % 2 = 0 ORDER BY src LIMIT 10)),
        walk(seed, node, depth) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION
          SELECT w.seed, e.dst, w.depth + 1
          FROM walk w JOIN e ON e.src = w.node WHERE w.depth < 3),
        md AS (SELECT seed, node, MIN(depth) AS d FROM walk GROUP BY 1, 2)
        SELECT CAST(t.r AS BIGINT) AS radius,
               CAST(COUNT(*) AS BIGINT) AS pairs_reachable
        FROM range(0, 4) AS t(r) JOIN md ON md.d <= t.r
        GROUP BY t.r ORDER BY radius
      """.trim),
      (s, d) => {
        import s.implicits._
        val li = lineitem(s, d)
        val e0 = Graph.tradeEdges(s, d)
        // one-time shuffle to a few src-keyed partitions before caching:
        // the raw union is 2x32 scan splits, so every per-round join
        // would pay 64 task launches per cached scan (the gx weak-row
        // lesson; count scan-derived, 8 at sf0.1, ~1M narrow rows)
        val e = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
          .repartition(Graph.dataParts(li), $"src")
          .persist()
        val seeds = e.filter($"src" % 2 === 0).select($"src").distinct()
          .orderBy($"src").limit(10).select($"src".as("seed"))
        val counts = reachCounts(seeds.select($"seed", $"seed".as("node")), e)
        e.unpersist()
        s.createDataFrame(counts).toDF("radius", "pairs_reachable")
          .orderBy($"radius")
      }),

    // HyperANF (Boldi–Rosa–Vigna WWW'11) — the ALL-sources production
    // path that gx_neighborhood's docstring names: instead of
    // materializing the (seed, node) pair set (Σ|ball(v,r)| rows —
    // quadratic-ish on dense graphs), every node carries one HLL
    // register set, and one round of c_{r+1}(v) = c_r(v) ∪
    // ⋃_{(v,w)∈E} c_r(w) is ONE equi-join (counters shipped along
    // edges) + ONE hll_union_agg groupBy — per-round cost ∝ |E|·|sketch|
    // regardless of how large the balls grow. N(r) = Σ_v |c_r(v)| sums
    // per-node estimates (longs — exact, order-independent). The graph
    // is the first-lineitem/first-year slice of the purchase graph so
    // the exact audit arm (the same frontier BFS as gx_neighborhood,
    // seeded from EVERY node) stays feasible at bench scale; the oracle
    // carries the exact per-radius pair counts and TRUE for the 5 %
    // flag — the row hash-matches iff the HyperANF estimate really is
    // within bounds (the ev_rolling_distinct_hll proof pattern).
    QueryDef(
      "gx_neighborhood_hll",
      Some("""
        WITH RECURSIVE e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_linenumber = 1 AND o_orderdate < DATE '1996-01-01'),
        e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        walk(seed, node, depth) AS (
          SELECT node, node, 0 FROM nodes
          UNION
          SELECT w.seed, e.dst, w.depth + 1
          FROM walk w JOIN e ON e.src = w.node WHERE w.depth < 3),
        md AS (SELECT seed, node, MIN(depth) AS d FROM walk GROUP BY 1, 2)
        SELECT CAST(t.r AS BIGINT) AS radius,
               CAST(COUNT(*) AS BIGINT) AS pairs_reachable,
               TRUE AS est_in_5pct
        FROM range(0, 4) AS t(r) JOIN md ON md.d <= t.r
        GROUP BY t.r ORDER BY radius
      """.trim),
      (s, d) => {
        import s.implicits._
        val li = lineitem(s, d)
        // same probe-side spread as [[Graph.tradeEdges]], with this
        // query's date/linenumber filters kept on the raw scans
        val liRep = li.filter($"l_linenumber" === 1)
          .select($"l_orderkey", $"l_suppkey")
          .repartition(s.sessionState.conf.numShufflePartitions,
            $"l_orderkey")
        val e0 = orders(s, d)
          .filter($"o_orderdate" < to_timestamp(lit("1996-01-01")))
          .join(liRep, $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
          .distinct()
        // few-partition cache for the same reason as gx_neighborhood's;
        // src keying serves the exact arm's frontier join (the HLL
        // arm's dst-keyed ship join reshuffles the few small partitions)
        val e = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
          .repartition(Graph.dataParts(li), $"src")
          .persist()
        e.count() // materialize once before both arms fork
        val nodes = e.select($"src".as("node")).distinct()
        // The two arms are independent job chains over the shared
        // (persisted) edge list — run them on separate threads so their
        // ~7-job sequences interleave on the cluster instead of
        // serializing (Spark schedules concurrent actions fairly; the
        // per-round work here is far below total capacity).
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        // --- HyperANF arm: per-node HLL registers merged along edges.
        // Iteration state is an EAGER localCheckpoint per round (a lazy
        // persist whose predecessor unpersists first re-runs every
        // earlier round).
        val hllArm = Future {
          var counters = nodes
            .groupBy($"node").agg(hll_sketch_agg($"node").as("sk"))
            .localCheckpoint().toDF("node", "sk")
          def estSum(c: org.apache.spark.sql.DataFrame): Long =
            c.agg(sum(hll_sketch_estimate($"sk")).as("s"))
              .as[Long].head()
          val ests = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          ests += ((0L, estSum(counters)))
          for (r <- 1 to 3) {
            val shipped = e.join(
              counters.withColumnRenamed("node", "dst"), "dst")
              .select($"src".as("node"), $"sk")
            counters = counters.union(shipped)
              .groupBy($"node").agg(hll_union_agg($"sk").as("sk"))
              .localCheckpoint().toDF("node", "sk")
            ests += ((r.toLong, estSum(counters)))
          }
          ests.toMap
        }
        // --- exact audit arm: the gx_neighborhood frontier BFS, seeded
        // from every node (feasible here by the graph slice; at true
        // scale this arm is the thing HyperANF replaces).
        val exactArm = Future {
          reachCounts(nodes.select($"node".as("seed"), $"node"), e)
        }
        val estByR = Await.result(hllArm, Duration.Inf)
        val counts = Await.result(exactArm, Duration.Inf)
        e.unpersist()
        val rows = counts.map { case (r, exact) =>
          val est = estByR(r)
          (r, exact, math.abs(est - exact).toDouble <= exact * 0.05)
        }
        s.createDataFrame(rows)
          .toDF("radius", "pairs_reachable", "est_in_5pct")
          .orderBy($"radius")
      }))
}
