package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Louvain local-move passes — the community-detection steps the gx_
  * family was missing between LPA (`gx_lpa`, no quality objective) and
  * the partition score (`gx_modularity`). Both passes reduce to EXACT
  * integer arithmetic on the common 4m^2 / 2m^2 denominators, with one
  * double division per reported Q — no floats inside, bit-portable
  * across engines and partitionings, oracle-mirrored verbatim.
  *
  * Pass 1 (`gx_louvain`), from the singleton partition: the gain for
  * moving node i into neighbor j's singleton community is
  *
  *   dQ(i -> {j}) = 1/m - (k_i * k_j) / (2 m^2)
  *   move iff 2m - k_i * k_j > 0;  argmax dQ = argmin k_j
  *
  * SYNCHRONOUS, with the classic swap pathology designed out: a node
  * may only move DOWN the (degree, id) total order — antisymmetric, so
  * no two co-moving nodes can target each other, and the mutual-move
  * case that naive synchronous sweeps turn into a SEPARATION (i
  * labeled j while j is labeled i) cannot occur (measured: the naive
  * variant DECREASED Q on this graph).
  *
  * Pass 2 (`gx_louvain2`): nodes still singleton after pass 1 join the
  * best FROZEN community of size >= 2 among their neighbors', with the
  * general singleton-into-community gain
  *
  *   dQ(i -> c) = k_{i,c}/m - (Sigma_tot(c) * k_i) / (2 m^2)
  *   move iff 2m * k_{i,c} - k_i * Sigma_tot(c) > 0
  *   argmax by (gain, then smallest community id)
  *
  * Freezing is structural, not a tiebreak: movers are singletons,
  * targets are size >= 2 communities, so no target contains a mover —
  * chains and swaps are impossible by construction. (Per-node gains
  * are still evaluated independently: two singletons co-joining the
  * SAME target add a pairwise cross-term -k_i*k_j/(2m^2) that no
  * per-node filter sees, so strict Q-improvement of a synchronous
  * sweep is a measured property of this graph — pinned by
  * NewOpsR9Spec — not a structural guarantee.) This is exactly
  * the shape a distributed Louvain sweep wants at 100 TB: per-node
  * decisions are edge-local joins + one argmax groupBy, never a
  * per-community serialization.
  *
  * Reference scope: the reference has no graph layer; this extends the
  * curation-pipeline community toolkit (dedup clusters, LPA, modularity).
  */
object Louvain {

  /** Oracle CTEs for pass 1, ending in `lbl(node, lbl)` plus the
    * shared `e0/e/deg/m` graph tables. */
  private val phase1Ctes = s"""
        ${Graph.sqlHashedEdges("e0")},
        e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
        m AS (SELECT COUNT(*) AS m FROM e0),
        cand AS (
          SELECT e.src AS node, di.deg AS ki, dj.deg AS kj, e.dst AS j
          FROM e
          JOIN deg di ON di.node = e.src
          JOIN deg dj ON dj.node = e.dst
          WHERE dj.deg < di.deg OR (dj.deg = di.deg AND e.dst < e.src)),
        best AS (
          SELECT node, ki, kj, j FROM (
            SELECT node, ki, kj, j,
                   ROW_NUMBER() OVER (PARTITION BY node ORDER BY kj, j) AS rn
            FROM cand) t
          WHERE rn = 1),
        lbl AS (
          SELECT d.node,
                 CASE WHEN b.node IS NOT NULL AND 2 * m.m - b.ki * b.kj > 0
                      THEN b.j ELSE d.node END AS lbl
          FROM deg d LEFT JOIN best b ON b.node = d.node
          CROSS JOIN m)"""

  /** Modularity CTE fragment over a label table named `labelTbl`:
    * emits `<prefix>terms(c, num)` with num = 4*m*L_c - D_c^2. */
  private def qCtes(labelTbl: String, prefix: String) = s"""
        ${prefix}dsum AS (
          SELECT l.lbl AS c, SUM(d.deg) AS dc
          FROM $labelTbl l JOIN deg d ON d.node = l.node
          GROUP BY l.lbl),
        ${prefix}intra AS (
          SELECT lu.lbl AS c, COUNT(*) AS lc
          FROM e0
          JOIN $labelTbl lu ON lu.node = e0.u
          JOIN $labelTbl lv ON lv.node = e0.v
          WHERE lu.lbl = lv.lbl
          GROUP BY lu.lbl),
        ${prefix}terms AS (
          SELECT d.c, 4 * m.m * COALESCE(i.lc, 0) - d.dc * d.dc AS num
          FROM ${prefix}dsum d LEFT JOIN ${prefix}intra i ON i.c = d.c
          CROSS JOIN m)"""

  /** Spark-side pass 1: returns (sym edges, degrees, |E| frame,
    * persisted labels). */
  private def phase1(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sym = Graph.cooccurSym(s, d)
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val m = sym.filter(col("src") < col("dst")).agg(count(lit(1)).as("m"))
    // per-node best candidate among DOWN-ORDER neighbors — the struct
    // MIN is the deterministic (k_j, j) tiebreak; the order filter
    // makes mutual targeting impossible
    val cand = sym
      .join(deg.select(col("node").as("src"), col("deg").as("ki")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("kj")), "dst")
      .filter(col("kj") < col("ki")
        || (col("kj") === col("ki") && col("dst") < col("src")))
    val best = cand.groupBy(col("src").as("node"))
      .agg(min(col("ki")).as("ki"), // constant per node
        min(struct(col("kj"), col("dst").as("j"))).as("mn"))
      .select(col("node"), col("ki"),
        col("mn.kj").as("kj"), col("mn.j").as("j"))
    // synchronized move: every decision is against the singleton
    // state, then applied at once; order-maximal nodes (no down-order
    // neighbor) keep their own label via the left join
    val lbl = deg.select(col("node"))
      .join(best, Seq("node"), "left")
      .crossJoin(broadcast(m))
      .select(col("node"),
        when(col("j").isNotNull
          && lit(2) * col("m") - col("ki") * col("kj") > 0, col("j"))
          .otherwise(col("node")).as("lbl"))
      .persist()
    (sym, deg, m, lbl)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "gx_louvain",
      Some(s"""
        WITH $phase1Ctes,
        mv AS (SELECT COUNT(*) AS n_moves FROM lbl WHERE lbl <> node),
        ${qCtes("lbl", "")},
        q0 AS (SELECT COUNT(*) AS n_nodes, SUM(deg * deg) AS sdd FROM deg),
        qt AS (SELECT COUNT(*) AS nc, SUM(num) AS snum FROM terms)
        SELECT CAST(q0.n_nodes AS BIGINT) AS n_nodes,
               CAST(m.m AS BIGINT) AS edges,
               CAST(mv.n_moves AS BIGINT) AS n_moves,
               CAST(qt.nc AS BIGINT) AS n_communities,
               -CAST(q0.sdd AS DOUBLE) / (4.0 * m.m * m.m) AS q_singleton,
               CAST(qt.snum AS DOUBLE) / (4.0 * m.m * m.m) AS q_after
        FROM q0, m, mv, qt
      """.trim),
      (s, d) => {
        val (sym, deg, m, lbl) = phase1(s, d)
        val moves = lbl.filter(col("lbl") =!= col("node"))
          .agg(count(lit(1)).as("n_moves"))
        val nodes = deg.agg(count(lit(1)).as("n_nodes"),
          sum(col("deg") * col("deg")).as("sdd"))
        val mod = Graph.modularity(sym, lbl)
        nodes.crossJoin(broadcast(moves)).crossJoin(broadcast(mod))
          .select(col("n_nodes"), col("edges"), col("n_moves"),
            col("n_communities"),
            (-col("sdd").cast("double")
              / (lit(4.0) * col("edges") * col("edges"))).as("q_singleton"),
            col("q_modularity").as("q_after"))
      }),

    QueryDef(
      "gx_louvain2",
      Some(s"""
        WITH $phase1Ctes,
        cstats AS (
          SELECT l.lbl AS c, COUNT(*) AS sz, SUM(d.deg) AS dc
          FROM lbl l JOIN deg d ON d.node = l.node
          GROUP BY l.lbl),
        singles AS (
          SELECT l.node, d.deg AS ki
          FROM lbl l
          JOIN cstats cs ON cs.c = l.lbl
          JOIN deg d ON d.node = l.node
          WHERE cs.sz = 1),
        cand2 AS (
          SELECT s.node, s.ki, ln.lbl AS c, COUNT(*) AS kic
          FROM singles s
          JOIN e ON e.src = s.node
          JOIN lbl ln ON ln.node = e.dst
          JOIN cstats cs ON cs.c = ln.lbl AND cs.sz >= 2
          GROUP BY s.node, s.ki, ln.lbl),
        gain AS (
          SELECT c2.node, c2.c,
                 2 * m.m * c2.kic - c2.ki * d1.dc AS g
          FROM cand2 c2 JOIN cstats d1 ON d1.c = c2.c
          CROSS JOIN m),
        best2 AS (
          SELECT node, c FROM (
            SELECT node, c,
                   ROW_NUMBER() OVER (PARTITION BY node ORDER BY g DESC, c) AS rn
            FROM gain WHERE g > 0) t
          WHERE rn = 1),
        lbl2 AS (
          SELECT l.node, COALESCE(b.c, l.lbl) AS lbl
          FROM lbl l LEFT JOIN best2 b ON b.node = l.node),
        mv1 AS (SELECT COUNT(*) AS n FROM lbl WHERE lbl <> node),
        mv2 AS (SELECT COUNT(*) AS n FROM best2),
        ${qCtes("lbl2", "p2")},
        q2 AS (SELECT COUNT(*) AS nc, SUM(num) AS snum FROM p2terms)
        SELECT CAST(m.m AS BIGINT) AS edges,
               CAST(mv1.n AS BIGINT) AS n_moves1,
               CAST(mv2.n AS BIGINT) AS n_moves2,
               CAST(q2.nc AS BIGINT) AS n_communities,
               CAST(q2.snum AS DOUBLE) / (4.0 * m.m * m.m) AS q_after2
        FROM m, mv1, mv2, q2
      """.trim),
      (s, d) => {
        val (sym, deg, m, lbl) = phase1(s, d)
        // one aggregate carries both community size and degree sum;
        // the result is O(#communities) rows — broadcastable
        val cstats = lbl.join(deg, "node")
          .groupBy(col("lbl").as("c"))
          .agg(count(lit(1)).as("sz"), sum(col("deg")).as("dc"))
          .persist()
        val singles = lbl
          .join(broadcast(cstats.filter(col("sz") === 1).select(col("c"))),
            lbl("lbl") === col("c"))
          .join(deg, "node")
          .select(col("node"), col("deg").as("ki"))
        // k_{i,c}: edges from each remaining singleton into each
        // neighbor community of size >= 2 (frozen targets)
        // singles and lbl are O(|V|) rows — broadcast all three small
        // sides so the 2m-row edge scan is the only big input and the
        // per-candidate count is the single exchange
        val cand2 = sym.select(col("src").as("node"), col("dst"))
          .join(broadcast(singles), "node")
          .join(broadcast(lbl.select(col("node").as("dst"), col("lbl").as("c"))), "dst")
          .join(broadcast(cstats.filter(col("sz") >= 2).select(col("c"), col("dc"))), "c")
          .groupBy(col("node"), col("ki"), col("c"), col("dc"))
          .agg(count(lit(1)).as("kic"))
        val gain = cand2
          .crossJoin(broadcast(m))
          .select(col("node"), col("c"),
            (lit(2) * col("m") * col("kic") - col("ki") * col("dc")).as("g"))
          .filter(col("g") > 0)
        val best2 = gain.groupBy(col("node"))
          .agg(min(struct((-col("g")).as("ng"), col("c"))).as("mn"))
          .select(col("node"), col("mn.c").as("c2"))
        val lbl2 = lbl.join(best2, Seq("node"), "left")
          .select(col("node"), coalesce(col("c2"), col("lbl")).as("lbl"))
        val mv1 = lbl.filter(col("lbl") =!= col("node")).agg(count(lit(1)).as("n_moves1"))
        val mv2 = best2.agg(count(lit(1)).as("n_moves2"))
        val mod2 = Graph.modularity(sym, lbl2)
          .select(col("edges"), col("n_communities"),
            col("q_modularity").as("q_after2"))
        mod2.crossJoin(broadcast(mv1)).crossJoin(broadcast(mv2))
          .select(col("edges"), col("n_moves1"), col("n_moves2"),
            col("n_communities"), col("q_after2"))
      }))
}
