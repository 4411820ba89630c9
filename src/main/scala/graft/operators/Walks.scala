package graft.operators

import graft.QueryDef
import graft.functions.PortableHash
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — the DeepWalk /
  * node2vec (p=q=1) sampling stage (Perozzi et al. KDD'14; Grover &
  * Leskovec KDD'16): emit fixed-length uniform random walks from every
  * node of the purchase graph, the training corpus a skip-gram node
  * embedder consumes. On a real pipeline this feeds the embedding
  * trainer exactly like token windows feed word2vec.
  *
  * Determinism: the "random" neighbor choice at step k of walk w from
  * node v is `h32(v:w:k) % deg(v)` over the md5-backed
  * [[PortableHash]] — bit-identical in both engines — indexing
  * neighbors ranked by id. Changing the walk id gives an independent
  * sample; nothing depends on partitioning or iteration order.
  *
  * Scale: the adjacency (with rank + degree, one window over src) is
  * computed once and reused by all L steps; each step is ONE hash
  * equi-join of the |nodes|·walks frontier against adjacency on
  * (src, rank) — no per-step shuffle of the edge list (it stays
  * hash-partitioned on src), no driver state, output
  * |nodes|·walks·(L+1) rows. At 100 TB the frontier join is the same
  * co-partitioned shape as one PageRank iteration.
  */
object Walks {

  private val L = 4 // steps per walk
  private val W = 2 // walks per node

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_random_walks", {
        def h(k: Int) = PortableHash.sqlH32(
          s"concat(CAST(w.cur AS VARCHAR), ':', CAST(w.walk AS VARCHAR), ':', '$k')")
        val steps = (1 to L).map { k =>
          s"""w$k AS (
            SELECT w.start, w.walk, a.dst AS cur
            FROM w${k - 1} w JOIN adj a
              ON a.src = w.cur AND a.idx = ${h(k)} % a.deg)"""
        }.mkString(",\n")
        val unioned = (0 to L)
          .map(k => s"SELECT start, walk, $k AS step, cur FROM w$k")
          .mkString("\nUNION ALL\n")
        Some(s"""
          WITH ${Graph.sqlTradeEdges},
          adj AS (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
                   COUNT(*) OVER (PARTITION BY src) AS deg
            FROM e),
          nodes AS (SELECT DISTINCT src AS node FROM e),
          w0 AS (
            SELECT node AS start, walk, node AS cur
            FROM nodes CROSS JOIN (SELECT unnest(range(0, $W)) AS walk)),
          $steps
          SELECT CAST(start AS BIGINT) AS start,
                 CAST(walk AS BIGINT) AS walk,
                 CAST(step AS BIGINT) AS step,
                 CAST(cur AS BIGINT) AS node
          FROM ($unioned)
          ORDER BY start, walk, step
        """.trim)
      },
      (s, d) => {
        val li = lineitem(s, d)
        val e0 = Graph.tradeEdges(s, d)
        val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        val ws = Window.partitionBy(col("src")).orderBy(col("dst"))
        val adj = e
          .withColumn("idx", row_number().over(ws) - 1)
          // same partition+order spec as idx with an explicit full
          // frame: both land in ONE WindowExec (one shuffle, one sort)
          // instead of two window passes over the edge list
          .withColumn("deg", count(lit(1)).over(
            ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          // reused by all L step joins; partitioned on the join key.
          // Explicit small count: the frame is ~1M narrow rows at
          // sf0.1, and every one of the L step joins launches one task
          // per cached partition — 32-slot default partitioning pays
          // 4x the task launches for zero parallelism gain (the gx
          // weak-row lesson); count scan-derived, 8 at sf0.1
          .repartition(Graph.dataParts(li), col("src"))
          .persist()
        // per-node degree as its own keyed relation: the step picks its
        // neighbor RANK on the frontier side first, so the adjacency
        // join is a true two-key equi-join on (src, idx) — one matching
        // row per walk, never a neighbor fan-out filtered after the fact
        // materialized once: every one of the L step joins probes this
        // ~|V|-row table, and without the checkpoint each step re-runs
        // the adjacency-cache scan + aggregate
        val degrees = adj.groupBy(col("src").as("d_node"))
          .agg(max(col("deg")).as("d_deg"))
          .persist()
        var frontier: DataFrame = adj.select(col("src").as("node")).distinct()
          .crossJoin(s.range(0, W).select(col("id").as("walk")))
          .select(col("node").as("start"), col("walk"), col("node").as("cur"))
          .persist()
        val out = Seq.newBuilder[DataFrame]
        out += frontier.select(col("start"), col("walk"),
          lit(0L).as("step"), col("cur").as("node"))
        for (k <- 1 to L) {
          val choice = PortableHash.h32(concat(
            col("cur").cast("string"), lit(":"),
            col("walk").cast("string"), lit(":"), lit(k.toString))) % col("d_deg")
          // lazy persist per step, NOT an eager localCheckpoint (the
          // katz lesson, r12): each frontier is read twice (next step's
          // join + its output branch), which a lazy cache serves after
          // the first materialization — while the eager-checkpoint
          // chain serialized L+2 barrier jobs before the real job
          // started (r13 interleaved floor A/B: this row was the 64k
          // coalesce floor's one real loser, 2.9 -> 4.1 s, because
          // every barrier job's small stages stopped coalescing; the
          // lazy shape composes into ONE job and is floor-insensitive)
          frontier = frontier
            // broadcast: the cached degree table is tiny (|V| rows,
            // ~30k) — well under the broadcast threshold here; at
            // billion-node scale this reverts to the co-partitioned
            // join with one hint change
            .join(broadcast(degrees), col("d_node") === col("cur"))
            .withColumn("pick", choice)
            .join(adj, col("src") === col("cur") && col("idx") === col("pick"))
            .select(col("start"), col("walk"), col("dst").as("cur"))
            .persist()
          out += frontier.select(col("start"), col("walk"),
            lit(k.toLong).as("step"), col("cur").as("node"))
        }
        out.result().reduce(_ unionByName _)
          .select(col("start").cast("long"), col("walk").cast("long"),
            col("step").cast("long"), col("node").cast("long"))
          .orderBy(col("start"), col("walk"), col("step"))
      }))
}
