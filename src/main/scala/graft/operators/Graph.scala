package graft.operators

import graft.QueryDef
import graft.sources.Tables.{lineitem, orders}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed graph analytics beyond connected components
  * ([[Dedup.duplicateClusters]]): fixed-iteration PageRank, mirrored
  * arithmetic-step-for-arithmetic-step by an unrolled SQL oracle (the
  * same proof pattern as [[Similarity.kmeansSqlCte]]).
  *
  * Graph: the customer↔supplier bipartite purchase graph (distinct
  * (o_custkey, l_suppkey) pairs, both directions, so every node has
  * out-degree ≥ 1 — no dangling-mass term). Node ids are disjoint by
  * parity: customer c → 2c, supplier s → 2s+1.
  *
  * Every iteration is edges ⋈ ranks ⋈ degrees → per-target DECIMAL sum
  * — three hash-shuffles on node id, state is one rank row per node,
  * nothing driver-side but the node count. Contribution sums go
  * through DECIMAL(28,12) so the result is independent of partitioning
  * (and bit-equal to DuckDB's sum over the same terms).
  */
object Graph {

  val damping = 0.85
  val iters = 3

  /** Fixed-iteration PageRank over the bidirectional edge list.
    *
    * Shuffle discipline: the edge list is hash-partitioned ONCE by
    * `src` — the per-iteration join key — and cached; the rank
    * table stays hash-partitioned by node (each iteration's aggregate
    * emits it that way), so the rank join is a co-partitioned shuffled
    * hash join with NO edge-side exchange, and the only per-iteration
    * shuffle is the contribution aggregate, map-side combined to at
    * most one row per (partition, dst). No |nodes|-sized broadcast
    * anywhere: a billion-node rank table would kill a driver-built
    * broadcast, while here AQE is still free to turn the rank join
    * into a broadcast at runtime when ranks measure small — the
    * size gate is dynamic, not asserted. The rank table is consumed by
    * exactly ONE downstream join per iteration (contrib), and the next
    * rank frame rebuilds from the PERSISTED nodes side — so the loop
    * lineage is linear and (as in [[hits]] and [[labelPropagation]])
    * needs no per-iteration checkpoints: the whole iters-deep chain
    * plans and schedules as one job. Only the final frame, which
    * callers read repeatedly, is checkpointed. */
  def pagerank(edges: DataFrame, iters: Int, damping: Double,
      parts: Int = 8): DataFrame = {
    // persist(), not localCheckpoint(), for the loop-invariant sides:
    // under AQE a checkpoint captures the unfinalized adaptive plan's
    // UnknownPartitioning, reintroducing an |edges| exchange per
    // iteration, while a cached plan keeps its child's hash
    // partitioning (and is partitioning-stable under AQE by default).
    val e = edges.repartition(parts, col("src")).persist() // parts from [[dataParts]] at call sites
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("src").as("node"), col("deg")).persist()
    val n = nodes.count()
    var pr = nodes.select(col("node"), col("deg"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.select(col("node").as("src"), col("deg"), col("pr"))
          .hint("shuffle_hash"), "src")
        .select(col("dst"),
          // snap9 before the DECIMAL cast: the raw pr/deg double can
          // land in the double→decimal double-rounding zone where the
          // two engines' conversions differ by one last-place digit
          // (measured at sf0.1 in gx_ppr) — the snapped value converts
          // identically, and the 1e-9 grid keeps 4+ significant digits
          // on any rank that matters
          graft.det.snap9(col("pr") / col("deg")).as("w"))
        .groupBy(col("dst"))
        .agg(sum(col("w").cast(DecimalType(28, 12))).cast("double").as("s"))
      pr = nodes
        .join(contrib.select(col("dst").as("node"), col("s")), Seq("node"), "left")
        .select(col("node"), col("deg"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("s"), lit(0.0))).as("pr"))
    }
    pr.select(col("node"), col("pr")).localCheckpoint()
  }

  /** Fixed-iteration HITS over the DIRECTED customer→supplier purchase
    * graph: authority(s) = Σ_{c→s} hub(c), hub(c) = Σ_{c→s}
    * authority(s), L1-normalized each half-step. Same dataflow
    * discipline as [[pagerank]] — but HITS joins edges on BOTH
    * endpoints across a round, so the edge list is persisted TWICE,
    * hash-partitioned by each join key (eC by c, eS by s); every
    * half-step is then a co-partitioned shuffled hash join + one
    * map-side-combined DECIMAL aggregate, the normalizer is a 1-row
    * broadcast, and scores are checkpointed per half-step. L1 (not L2)
    * normalization is deliberate: the total is an exact DECIMAL sum
    * and each score is ONE double division — bit-portable, where an
    * L2 norm would sum squared doubles. */
  def hits(edges: DataFrame, iters: Int,
      parts: Int = 8): (DataFrame, DataFrame) = {
    // eS derives from the CACHED eC, not from `edges`: the raw edge
    // list is a fact-fact join + distinct, and two independent
    // partitioned copies would each recompute it from scratch (the
    // dominant cost of the whole query at sf0.1)
    val eC = edges.repartition(parts, col("c")).persist() // parts from [[dataParts]] at call sites
    val eS = eC.repartition(parts, col("s")).persist()
    // EXACT INTEGER recurrence, ONE normalization at the end: in exact
    // arithmetic per-step L1 normalization only rescales by a scalar,
    // so normalizing once after the last step yields the identical
    // final scores — and the unnormalized chain is all integer-valued
    // DECIMAL(38,0) sums (h0 = 1), bit-exact in both engines with NO
    // float until the final division. Dropping the per-half-step
    // normalizers also removes their double-reference on every
    // aggregate (each intermediate is now consumed exactly once), so
    // the loop lineage is LINEAR and needs no checkpoints: the whole
    // 2·iters-join chain plans as one job (5.8s → measured ~2s at
    // sf0.1). Only the two final frames (each read twice: total +
    // output) are checkpointed.
    var h = eC.select(col("c")).distinct()
      .select(col("c"), lit(1L).cast(DecimalType(38, 0)).as("h"))
    var a: DataFrame = null
    for (i <- 1 to iters) {
      a = eC.join(h.hint("shuffle_hash"), "c")
        .groupBy(col("s")).agg(sum(col("h")).as("a"))
      if (i < iters)
        h = eS.join(a.hint("shuffle_hash"), "s")
          .groupBy(col("c")).agg(sum(col("a")).as("h"))
    }
    // checkpoint the LAST authority table first and derive the final
    // hub half-step FROM the checkpoint: two independent checkpoints
    // of a and h would each re-execute the whole join chain (h's plan
    // references the un-checkpointed a) — measured 2× the loop cost
    val af = a.localCheckpoint()
    val hf = eS.join(af.hint("shuffle_hash"), "s")
      .groupBy(col("c")).agg(sum(col("a")).as("h"))
      .localCheckpoint()
    val at = af.agg(sum(col("a")).as("t"))
    val ht = hf.agg(sum(col("h")).as("t"))
    (hf.crossJoin(broadcast(ht))
      .select(col("c"), (col("h").cast("double") / col("t").cast("double")).as("h")),
      af.crossJoin(broadcast(at))
        .select(col("s"), (col("a").cast("double") / col("t").cast("double")).as("a")))
  }

  private def sqlHitsIter(i: Int): String = {
    val prev = s"h${i - 1}"
    s"""a$i AS (
         SELECT e.s, SUM(h.h) AS a
         FROM e JOIN $prev h ON e.c = h.c GROUP BY e.s),
       h$i AS (
         SELECT e.c, SUM(a.a) AS h
         FROM e JOIN a$i a ON e.s = a.s GROUP BY e.c)"""
  }

  private def sqlIter(i: Int): String = {
    val prev = if (i == 1) "p0" else s"p${i - 1}"
    s"""c$i AS (
         SELECT e.dst, CAST(SUM(CAST(${graft.det.sqlSnap9("p.pr / p.deg")} AS DECIMAL(28,12))) AS DOUBLE) AS s
         FROM e JOIN $prev p ON e.src = p.node
         GROUP BY e.dst),
       p$i AS (
         SELECT nodes.node, nodes.deg,
                (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)) AS pr
         FROM nodes CROSS JOIN nn LEFT JOIN c$i c ON nodes.node = c.dst)"""
  }

  /** SQL mirror of [[pagerank]] over a symmetric edge CTE `e(src, dst)`:
    * `deg`, `nodes`, `nn`, the uniform start `p0` and the unrolled
    * iterations, the last of which is `p<iters>`. */
  private[operators] def sqlPagerank: String = s"""deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        nodes AS (SELECT src AS node, deg FROM deg),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        p0 AS (SELECT node, deg, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
        ${(1 to iters).map(sqlIter).mkString(",\n")}"""

  /** Triangle count by degree-ordered edge orientation.
    *
    * Orienting every undirected edge from its (degree, id)-smaller
    * endpoint to the larger bounds each node's out-degree by
    * O(sqrt(m)), so the wedge join (the quadratic step) is
    * sum(outdeg²) ≤ m·sqrt(m) instead of sum(deg²) — the standard
    * skew defense that keeps a power-law hub from exploding one
    * partition. Every triangle then has exactly one node with
    * out-edges to the other two, so closing wedges against the
    * canonical (u<v) edge list counts each triangle exactly once.
    * Three hash joins + one agg; nothing driver-side.
    */
  /** Canonical undirected edge list (u < v, no loops, deduped) from a
    * raw (a, b) pair table — cached (the consumers below all read it
    * multiple times). persist(), not an eager localCheckpoint: the
    * cache fills lazily inside the consuming job instead of running a
    * separate sequential materialization job per intermediate. */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()

  /** The hashed (order, part) co-occurrence pairs `(a, b)` of a
    * lineitem frame: the modulus folds both key spaces into one
    * 29989-node id space, so the graph is general (non-bipartite) and
    * triangle-bearing. */
  def hashedPairs(li: DataFrame): DataFrame =
    li.select((col("l_orderkey") % 29989).as("a"), (col("l_partkey") % 29989).as("b"))

  /** SQL mirror of `canonicalEdges(hashedPairs(lineitem))`: the `raw`
    * pairs and the canonical (u < v) edge list named `name`. */
  private[operators] def sqlHashedEdges(name: String = "e"): String = s"""raw AS (
          SELECT l_orderkey % 29989 AS a, l_partkey % 29989 AS b FROM lineitem),
        $name AS (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b)"""

  /** [[hashedPairs]] under the modulus max(29989, |lineitem| DIV 21):
    * the same graph up to sf0.1, but at 10× data 10× more nodes at
    * constant degree instead of a denser graph. The modulus rides in on
    * a broadcast 1-row cross join. */
  def adaptivePairs(li: DataFrame): DataFrame = {
    val m = li.agg(
      greatest(lit(29989L), expr("COUNT(*) DIV 21")).as("m"))
    li.crossJoin(broadcast(m))
      .select((col("l_orderkey") % col("m")).as("a"),
        (col("l_partkey") % col("m")).as("b"))
  }

  /** SQL mirror of `canonicalEdges(adaptivePairs(lineitem))`: `nn`,
    * `raw` and the canonical edge list named `name`. */
  private[operators] def sqlAdaptiveEdges(name: String): String = s"""nn AS (
          SELECT GREATEST(29989, COUNT(*) // 21) AS m FROM lineitem),
        raw AS (
          SELECT l_orderkey % (SELECT m FROM nn) AS a,
                 l_partkey % (SELECT m FROM nn) AS b
          FROM lineitem),
        $name AS (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b)"""

  /** SQL mirror of [[cappedNeighbors]]: the hashed edge list `e`, its
    * both-way adjacency `adj`, the node degrees `deg` and the adjacency
    * rows `mid` of middle nodes of degree <= 32. */
  private def sqlWedgeMid: String = s"""${sqlHashedEdges()},
        adj AS (SELECT u AS m, v AS n FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT m, COUNT(*) AS deg FROM adj GROUP BY m),
        mid AS (
          SELECT a.m, a.n FROM adj a JOIN deg d ON d.m = a.m
          WHERE d.deg <= 32)"""

  /** After [[sqlWedgeMid]]: each non-adjacent pair x < y with `cn`,
    * its count of capped common neighbors (`wed`, then `cand`). */
  private def sqlCommonNeighborCands: String = """wed AS (
          SELECT a1.n AS x, a2.n AS y, COUNT(*) AS cn
          FROM mid a1 JOIN mid a2 ON a1.m = a2.m AND a1.n < a2.n
          GROUP BY 1, 2),
        cand AS (
          SELECT w.x, w.y, w.cn
          FROM wed w LEFT JOIN e ON e.u = w.x AND e.v = w.y
          WHERE e.u IS NULL)"""

  /** The link-prediction wedges over the hashed graph: its canonical
    * edges `e`, the degree table `deg(m, deg)` and, for each middle
    * node of degree <= 32, its sorted neighbor array `nbrs(m, ns)`.
    * Wedges come from these arrays, not an adj⋈adj self-join: the
    * degree cap is a semi-join BEFORE collect_list (so no task ever
    * materializes a hub's array), the join's output partitioning is
    * reused by the groupBy (one exchange of |adj| rows), and the
    * Σ min(deg,32)² pair stream ([[wedgePairs]]) is generated inside
    * whole-stage codegen. */
  private def cappedNeighbors(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val e = canonicalEdges(hashedPairs(lineitem(s, d)))
    val adj = e.select(col("u").as("m"), col("v").as("n"))
      .union(e.select(col("v").as("m"), col("u").as("n")))
    val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("deg"))
    val lowDeg = deg.filter(col("deg") <= 32).select(col("m"))
    val nbrs = adj.join(lowDeg, Seq("m"))
      .groupBy(col("m")).agg(sort_array(collect_list(col("n"))).as("ns"))
    (e, deg, nbrs)
  }

  /** One row per (x < y) pair of a middle node's sorted neighbors `ns`,
    * packed into ONE long `pack` (node ids < 29989 < 2^15), so the big
    * exchange hashes/sorts a single 8-byte key instead of a two-column
    * row — and [[nonEdges]] equi-joins on the same packed key. */
  private def wedgePairs: Column = explode(expr(
    """flatten(transform(ns, (x, i) ->
      |  transform(slice(ns, i + 2, size(ns)),
      |            y -> shiftleft(bigint(x), 15) + bigint(y))))""".stripMargin))
    .as("pack")

  /** The packed pairs of `wed` that are not edges of `e`, unpacked to
    * `(u, v)` and followed by `rest`. */
  private def nonEdges(wed: DataFrame, e: DataFrame, rest: Column*): DataFrame = {
    val ePack = e.select(
      (shiftleft(col("u").cast("long"), 15) + col("v")).as("pack"))
    wed
      .join(ePack, Seq("pack"), "left_anti")
      .select(Seq(shiftright(col("pack"), 15).as("u"),
        col("pack").bitwiseAND(lit(32767L)).as("v")) ++ rest: _*)
  }

  /** SQL mirror of [[triangleCount]] over a canonical edge CTE `e`:
    * the `nodes` CTE and the final triangles/edges/nodes SELECT. */
  private def sqlTriangleStats: String = """nodes AS (SELECT u AS n FROM e UNION SELECT v FROM e)
        SELECT
          CAST((SELECT COUNT(*) FROM e x
                JOIN e y ON y.u = x.v
                JOIN e z ON z.u = x.u AND z.v = y.v) AS BIGINT) AS triangles,
          CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS edges,
          CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS nodes"""

  /** The thinned bipartite purchase graph of the reachability queries:
    * part (even ids) to supplier (odd ids) over the unit-quantity
    * lineitems of one hash bucket in 17, distinct (u, v). */
  private def thinnedEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_quantity") === 1 &&
        (col("l_partkey") * 31 + col("l_suppkey")) % 17 === 0)
      .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct()

  /** SQL mirror of [[thinnedEdges]] (`e0`) and its symmetric `edges`. */
  private def sqlThinnedEdges: String = """e0 AS (
          SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem
          WHERE l_quantity = 1 AND (l_partkey * 31 + l_suppkey) % 17 = 0),
        edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)"""

  /** The BFS queries' input: [[thinnedEdges]] made symmetric (persisted)
    * and the seed set, every node with node % 11 = 3. */
  private def thinnedBfsInput(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val e0 = thinnedEdges(s, d)
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v"))).persist()
    val seeds = sym.select(col("u").as("node")).distinct()
      .filter(col("node") % 11 === 3)
    (sym, seeds)
  }

  /** Per-node degree of a canonical edge list. */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Scale-adaptive partition count for the iterated/cached graph
    * frames (r12 verdict #3: the `repartition(8, …)` constants carried
    * "partition count follows data volume" comments that the code
    * contradicted — right at sf0.1, serial at 10×). Derived from the
    * SOURCE SCAN's stat bytes: leaf stats are file bytes, free at plan
    * time, no decision job. One partition per ~4 MB of scan, floored
    * at the measured sf0.1 sweet spot (8: below it iterated stages pay
    * 32 task launches per kilobyte-scale partition — the gx weak-row
    * lesson) and capped at 4× the session's scheduling slots. Callers
    * MUST pass a scan-rooted frame (scan or scan+project): stats of a
    * join are estimate PRODUCTS and would always hit the cap. At sf0.1
    * (lineitem ≈ 11 MB) this lands exactly on the floor, so every
    * sf0.1 plan is unchanged; at sf1 it grows to ~27 and keeps
    * growing linearly with data. */
  private[operators] def dataParts(scan: DataFrame, floor: Int = 8): Int = {
    val bytes = scan.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = BigInt(4L * math.max(1,
      scan.sparkSession.sparkContext.defaultParallelism))
    val derived = bytes / (4L << 20) + 1
    (derived.min(cap).max(BigInt(floor))).toInt
  }

  /** DISTINCT directed (customer→supplier) trade edges — the shared e0
    * of the gx_ fixpoint family (pagerank/katz/ppr/walks/neighborhood).
    * The lineitem probe side is projected to the two needed columns
    * and repartitioned to session parallelism BEFORE the broadcast
    * join: the scan yields only a handful of file splits at bench
    * scale, so probe + partial-distinct ran 3-wide — a ~0.6 s 3-task
    * stage in every consumer's profile (guide §2.5 scan parallelism,
    * the ev_price_elasticity fix). One narrow (orderkey, suppkey)
    * shuffle spreads it; the orderkey hash key is deterministic (no
    * round-robin sort) and collision-free at ≤ 7 lines per order. */
  private[operators] def tradeEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
    orders(s, d).join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
  }

  /** SQL mirror of [[tradeEdges]] (`e0`) and its symmetric `e`. */
  private[operators] def sqlTradeEdges: String = """e0 AS (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"""

  /** Edge-count ceiling for broadcasting the closing-edge list in the
    * wedge-closure semi-join. Below it the canonical edge list rides a
    * broadcast (a 50M-edge (long, long) hashed relation is ~2 GB —
    * inside the 8 GB broadcast limit with headroom); above it the
    * broadcast would die on driver/executor memory, so the closure
    * escalates to the documented bloom pre-join (r11 verdict #4). */
  private[graft] val wedgeBroadcastMaxEdges: Long = 50L * 1000 * 1000

  /** Closing-edge semi-join over a wedge stream — THE scale hazard of
    * every triangle-family operator: the wedge stream is Σ outdeg²
    * rows, and a plain shuffled semi-join materializes all of it to
    * shuffle disk (measured at a 10×-densified graph: 2.4 B wedges,
    * >79 GB spill, Spark-context death). Two regimes:
    *
    *  - |E| ≤ maxBroadcastEdges: broadcast the canonical edge list;
    *    wedges stream map-side through the hash relation, never stored.
    *  - |E| above broadcast reach: build a bloom filter over
    *    xxhash64(u, v) (1% fpp ⇒ ~9.6 bits/edge — 1B edges ≈ 1.2 GB,
    *    ~40× past the hashed-relation ceiling), filter the wedge
    *    stream map-side (drops ~every non-closing wedge: triangles ≪
    *    wedges), then verify the tiny survivor set with an ordinary
    *    shuffled semi-join against the full edge list. The wedge
    *    stream still never hits shuffle disk; only true triangles +
    *    fpp·wedges do.
    *
    * The regime decision is free in the common case: Catalyst's
    * `stats.sizeInBytes` for the edge plan is an UPPER bound rooted at
    * the source file bytes, so a plan provably under `safeBytes`
    * broadcasts with zero extra jobs (measured: an unconditional
    * `e.count()` decision job cost every graph row +10–30% per
    * construction at sf0.1). Only plans past the bound — or with
    * unknown stats (checkpointed survivor sets report the session
    * default, effectively ∞) — pay one `count()` on e, which is always
    * the persisted [[canonicalEdges]] output (or an already-checkpointed
    * truss survivor set), consumed ≥ 3 times anyway. Result-identity of
    * the two regimes is spec-pinned (`WedgeClosureSpec`). */
  private[graft] def closeWedges(wedges: DataFrame, e: DataFrame,
      x: String, y: String,
      maxBroadcastEdges: Long = wedgeBroadcastMaxEdges,
      safeBytes: Long = 2L << 30): DataFrame = {
    val exy = e.select(col("u").as(x), col("v").as(y))
    def viaBroadcast = wedges.join(broadcast(exy), Seq(x, y), "left_semi")
    val statBytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    if (statBytes <= safeBytes) viaBroadcast
    else {
      val nEdges = e.count()
      if (nEdges <= maxBroadcastEdges) viaBroadcast
      else {
        val bloom = e.stat.bloomFilter(
          xxhash64(col("u"), col("v")), math.max(nEdges, 1L), 0.01)
        val bc = e.sparkSession.sparkContext.broadcast(bloom)
        val mightContain = udf((k: Long) => bc.value.mightContainLong(k))
        wedges.filter(mightContain(xxhash64(col(x), col(y))))
          .join(exy, Seq(x, y), "left_semi")
      }
    }
  }

  /** Each edge of a canonical edge list `e` oriented by (degree, id):
    * `src` is the endpoint lower in that total order, so the wedges out
    * of a node number Σ outdeg² <= m·√m. `deg` is [[degrees]] of `e`.
    * Callers persist the result. */
  def degreeOriented(e: DataFrame, deg: DataFrame): DataFrame =
    e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))

  /** The wedges (src, x, y), x < y, of an oriented edge list. */
  def orientedWedges(oriented: DataFrame): DataFrame =
    oriented.select(col("src"), col("dst").as("x"))
      .join(oriented.select(col("src"), col("dst").as("y")), "src")
      .filter(col("x") < col("y"))

  def triangleCount(edges: DataFrame): DataFrame = {
    // e is consumed three times (wedges, closing join, stats) and
    // oriented twice — canonicalEdges caches it once
    val e = canonicalEdges(edges)
    val deg = degrees(e)
    val oriented = degreeOriented(e, deg).persist()
    val wedges = orientedWedges(oriented)
    // the wedge filter guarantees x < y, so the closing-edge lookup is
    // a plain equi-join against the canonical (u < v) list —
    // broadcast under wedgeBroadcastMaxEdges, bloom pre-join past it
    // (see closeWedges)
    val closed = closeWedges(wedges, e, "x", "y")
    val tri = closed.agg(count(lit(1)).as("triangles"))
    val stats = e.agg(count(lit(1)).as("edges"))
    val nodes = deg.agg(count(lit(1)).as("nodes"))
    tri.crossJoin(stats).crossJoin(nodes)
      .select(col("triangles"), col("edges"), col("nodes"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      // Degree distribution of the hashed co-occurrence graph — the
      // first thing to look at before running anything iterative on a
      // graph (it decides broadcast vs shuffle, salting, and whether
      // degree-ordered orientation is worth it). Exact histogram:
      // one distinct + one groupBy chain, no floats.
      "gx_degree_hist",
      Some(s"""
        WITH ${sqlHashedEdges()},
        deg AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e)
          GROUP BY n)
        SELECT CAST(deg AS BIGINT) AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY deg ORDER BY degree
      """.trim),
      (s, d) => {
        val e = canonicalEdges(hashedPairs(lineitem(s, d)))
        degrees(e)
          .groupBy(col("deg").as("degree")).agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("degree"))
      }),
    QueryDef(
      "gx_triangles",
      Some(s"""
        WITH ${sqlHashedEdges()},
        $sqlTriangleStats
      """.trim),
      (s, d) => {
        triangleCount(hashedPairs(lineitem(s, d)))
      }),
    // The same triangle count over a graph whose node space SCALES with
    // the data: the fixed 29989 modulus above makes 10× rows densify
    // the graph in place (degrees ×10 → wedge work ×100 → an honest
    // superlinear flag at the sf1 benchmark), which measures the
    // FIXTURE's growth mode, not the operator. Here the modulus is
    // max(29989, |lineitem| DIV 21) — identical graph (and identical
    // results) at every driver scale up to sf0.1, but at 10× data the
    // graph grows 10× more NODES at constant degree, the realistic way
    // a co-occurrence graph scales — so this row pins the operator's
    // own exponent (~linear) next to its densified twin's. The scalar
    // rides in on a broadcast cross join; nothing driver-side.
    QueryDef(
      "gx_triangles_adaptive",
      Some(s"""
        WITH ${sqlAdaptiveEdges("e")},
        $sqlTriangleStats
      """.trim),
      (s, d) => {
        triangleCount(adaptivePairs(lineitem(s, d)))
      }),
    QueryDef(
      "gx_pagerank",
      Some(s"""
        WITH $sqlTradeEdges,
        $sqlPagerank
        SELECT CAST(node AS BIGINT) AS node, pr
        FROM p$iters
        ORDER BY pr DESC, node
        LIMIT 20
      """.trim),
      (s, d) => {
        val e0 = tradeEdges(s, d)
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        pagerank(edges, iters, damping, dataParts(lineitem(s, d)))
          .orderBy(col("pr").desc, col("node"))
          .limit(20)
          .select(col("node").cast("bigint").as("node"), col("pr"))
      }),

    // HITS hubs & authorities (3 fixed iterations, L1-normalized) over
    // the DIRECTED customer→supplier purchase graph — the natural
    // companion to gx_pagerank on a bipartite buy graph: authorities =
    // suppliers that well-connected customers buy from, hubs =
    // customers that buy from authoritative suppliers. See [[hits]]
    // for the shuffle discipline; the oracle unrolls the identical
    // half-steps (decimal sums, one division per score per step).
    QueryDef(
      "gx_hits",
      Some(s"""
        WITH e AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS (SELECT DISTINCT c, CAST(1 AS BIGINT) AS h FROM e),
        ${(1 to iters).map(sqlHitsIter).mkString(",\n")},
        at AS (SELECT SUM(a) AS t FROM a$iters),
        ht AS (SELECT SUM(h) AS t FROM h$iters),
        an AS (SELECT s, CAST(a AS DOUBLE) / CAST(t AS DOUBLE) AS a
               FROM a$iters CROSS JOIN at),
        hn AS (SELECT c, CAST(h AS DOUBLE) / CAST(t AS DOUBLE) AS h
               FROM h$iters CROSS JOIN ht)
        SELECT role, node, score FROM (
          SELECT 'authority' AS role, CAST(s AS BIGINT) AS node, a AS score
          FROM an ORDER BY a DESC, s LIMIT 10)
        UNION ALL
        SELECT role, node, score FROM (
          SELECT 'hub' AS role, CAST(c AS BIGINT) AS node, h AS score
          FROM hn ORDER BY h DESC, c LIMIT 10)
        ORDER BY role, score DESC, node
      """.trim),
      (s, d) => {
        val li = lineitem(s, d)
        // same probe-side spread as [[tradeEdges]] (this graph keeps
        // the raw (c, s) keying instead of the ×2 node encoding)
        val liRep = li.select(col("l_orderkey"), col("l_suppkey"))
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("l_orderkey"))
        val e = orders(s, d)
          .join(liRep, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .distinct()
        val (h, a) = hits(e, iters, dataParts(li))
        val aut = a.orderBy(col("a").desc, col("s")).limit(10)
          .select(lit("authority").as("role"),
            col("s").cast("bigint").as("node"), col("a").as("score"))
        val hub = h.orderBy(col("h").desc, col("c")).limit(10)
          .select(lit("hub").as("role"),
            col("c").cast("bigint").as("node"), col("h").as("score"))
        aut.unionByName(hub)
          .orderBy(col("role"), col("score").desc, col("node"))
      }),

    // General connected components as a first-class graph query — the
    // same alternating large-star/small-star fixpoint that powers
    // dd_dup_clusters ([[Dedup.ccLabels]]), here over a deterministic
    // hash-thinned part–supplier purchase graph (qty-1 lines, 1-in-17
    // edge sample) so the structure is a forest-of-stars with real
    // multi-node components (sf0.01: 35 components, max size 5) and
    // the recursive-CTE oracle stays polynomial. Every step is a
    // hash-partitioned groupBy + equi-join; nothing driver-side but
    // the per-round convergence counts.
    QueryDef(
      "gx_cc",
      Some(s"""
        WITH RECURSIVE $sqlThinnedEdges,
        walk(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
        mins AS (SELECT a, MIN(b) AS mn FROM walk GROUP BY a),
        comp AS (SELECT a AS node, LEAST(a, mn) AS rep FROM mins)
        SELECT node, rep,
               CAST(COUNT(*) OVER (PARTITION BY rep) AS BIGINT) AS component_size
        FROM comp
        ORDER BY node
      """.trim),
      (s, d) => {
        val e0 = thinnedEdges(s, d)
        val labels = Dedup.ccLabels(e0)
        val nodes = e0.select(col("u").as("node"))
          .union(e0.select(col("v").as("node"))).distinct()
        val full = nodes
          .join(labels.select(col("u").as("node"), col("v").as("rep")), Seq("node"), "left")
          .select(col("node"), coalesce(col("rep"), col("node")).as("rep"))
        val sizes = full.groupBy(col("rep")).agg(count(lit(1)).as("component_size"))
        full.join(sizes, "rep")
          .select(col("node"), col("rep"), col("component_size"))
          .orderBy(col("node"))
      }),

    // Multi-source BFS: hop distance (≤ 4) from a deterministic seed
    // set (node % 11 = 3) over the same thinned purchase graph as
    // gx_cc — the reachability/nearest-facility primitive. Each round
    // is frontier ⋈ edges → union → per-node min: hash-shuffled
    // min-merge with NO driver-side frontier (the distance table stays
    // distributed; rounds are fixed, lineage is checkpoint-truncated).
    // Min-merge makes revisits harmless, so the fixed-round loop equals
    // true BFS up to the hop cap. The oracle's recursive CTE walks the
    // same capped expansion and takes the same per-node MIN.
    QueryDef(
      "gx_bfs",
      Some(s"""
        WITH RECURSIVE $sqlThinnedEdges,
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        walk(node, dist) AS (
          SELECT node, 0 FROM nodes WHERE node % 11 = 3
          UNION
          SELECT e.b, w.dist + 1
          FROM walk w JOIN edges e ON e.a = w.node
          WHERE w.dist < 4)
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        FROM walk GROUP BY node ORDER BY node
      """.trim),
      (s, d) => {
        val (sym, seeds) = thinnedBfsInput(s, d)
        bfs(sym, seeds, maxHops = 4).orderBy(col("node"))
      }),

    // Bounded-radius closeness centrality from the same deterministic
    // seed set: per seed, BFS distances within 4 hops tracked per
    // (seed, node) pair ([[bfsPerSeed]]), then closeness =
    // (reached − 1) / Σdist — the Eppstein-Wang estimator shape, where
    // the seed sample is the budget knob and the radius bounds the
    // per-seed state. One integer-valued double division per seed; the
    // oracle's recursive CTE carries the seed through the same capped
    // expansion and takes the same per-(seed, node) MIN.
    QueryDef(
      "gx_closeness",
      Some(s"""
        WITH RECURSIVE $sqlThinnedEdges,
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        walk(seed, node, dist) AS (
          SELECT node, node, 0 FROM nodes WHERE node % 11 = 3
          UNION
          SELECT w.seed, e.b, w.dist + 1
          FROM walk w JOIN edges e ON e.a = w.node
          WHERE w.dist < 4),
        d AS (
          SELECT seed, node, MIN(dist) AS dist
          FROM walk GROUP BY seed, node)
        SELECT CAST(seed AS BIGINT) AS seed,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
               CAST(SUM(dist) AS BIGINT) AS sum_dist,
               CASE WHEN SUM(dist) > 0
                    THEN CAST(COUNT(*) - 1 AS DOUBLE) / SUM(dist) END AS closeness
        FROM d GROUP BY seed
        ORDER BY seed
      """.trim),
      (s, d) => {
        val (sym, seeds) = thinnedBfsInput(s, d)
        bfsPerSeed(sym, seeds, maxHops = 4)
          .groupBy(col("seed"))
          .agg((count(lit(1)) - 1).as("n_reached"),
            sum(col("dist")).as("sum_dist"))
          .select(col("seed"), col("n_reached"), col("sum_dist"),
            when(col("sum_dist") > 0,
              col("n_reached").cast("double") / col("sum_dist")).as("closeness"))
          .orderBy(col("seed"))
      }),

    // k-core peeling (k=2, 4 fixed rounds — fixed like gx_pagerank's
    // iteration count so the oracle can mirror round-for-round; the
    // full k-core is this loop run to fixpoint): each round drops
    // every edge with an endpoint of degree < k. Over the UNTHINNED
    // qty-1 purchase graph so the peel actually works through the
    // degree-1 fringe. Per round: one hash aggregate (degrees) + two
    // semi-joins (endpoint filter) — all shuffles keyed on node id,
    // lineage checkpoint-truncated; nothing driver-side.
    QueryDef(
      "gx_kcore", {
        def round(i: Int): String = {
          val p = s"s${i - 1}"
          s"""d${i - 1} AS (SELECT a, COUNT(*) AS deg FROM $p GROUP BY a),
          s$i AS (
            SELECT s.a, s.b FROM $p s
            JOIN d${i - 1} da ON s.a = da.a
            JOIN d${i - 1} db ON s.b = db.a
            WHERE da.deg >= 2 AND db.deg >= 2)"""
        }
        Some(s"""
          WITH e0 AS (
            SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
            FROM lineitem WHERE l_quantity = 1),
          s0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
          ${(1 to 4).map(round).mkString(",\n")}
          SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM s4 GROUP BY a
          ORDER BY node
        """.trim)
      },
      (s, d) => {
        val e0 = lineitem(s, d)
          .filter(col("l_quantity") === 1)
          .select((col("l_partkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
          .distinct()
        val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
        kcore(sym, k = 2, rounds = 4).orderBy(col("node"))
      }),

    // Common-neighbor link prediction — the classic "who should be
    // connected next" score: for every non-adjacent pair at distance
    // 2, count shared neighbors via middle nodes of degree ≤ 32; top
    // 20. The wedge self-join is Σ deg² over the MIDDLE node, so one
    // uncapped hub at web scale explodes a single join key — the
    // degree cap is therefore part of the metric's definition here
    // (the standard scale move: a shared hub carries near-zero signal
    // anyway, which is exactly the observation resource-allocation
    // weighting formalizes), mirrored identically in the oracle.
    // With the cap the join is bounded by Σ min(deg,32)² ≤ 32·Σdeg =
    // 64·|E| — linear in edges, no skewed key (cap 32, not 64: at this
    // graph's density the 64-cap pair stream was ~4× larger for middle
    // nodes that are already near-hubs carrying near-zero signal, and
    // the three wedge queries were the bench's top-3 rows). Then one count
    // aggregate, an anti-join against the existing edges, and a
    // TakeOrderedAndProject top-k — never a global sort.
    QueryDef(
      "gx_common_neighbors",
      Some(s"""
        WITH $sqlWedgeMid,
        $sqlCommonNeighborCands
        SELECT CAST(x AS BIGINT) AS u, CAST(y AS BIGINT) AS v,
               CAST(cn AS BIGINT) AS common_neighbors
        FROM cand
        ORDER BY cn DESC, x, y
        LIMIT 20
      """.trim),
      (s, d) => {
        val (e, _, nbrs) = cappedNeighbors(s, d)
        val wed = nbrs.select(wedgePairs).groupBy(col("pack")).agg(count(lit(1)).as("cn"))
        nonEdges(wed, e, col("cn").as("common_neighbors"))
          .orderBy(col("common_neighbors").desc, col("u"), col("v"))
          .limit(20)
      }),

    // Resource-allocation link prediction — common-neighbors with the
    // degree weighting that makes it competitive (Zhou et al. 2009):
    // score(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/deg(z), so a shared hub says
    // almost nothing while a shared degree-2 node says a lot — which
    // is also why the same middle-node degree cap (≤ 32) as
    // gx_common_neighbors costs almost no score mass: the dropped
    // hubs contribute ≤ 1/32 each. The capped wedge join is bounded
    // by 32·Σdeg = 64·|E| (linear, no skewed key); the cap filter is
    // mirrored in the oracle, and the weights stay the TRUE 1/deg
    // (cap bounds candidates, not the degree used); the 1/deg
    // contributions sum through DECIMAL(28,12) exactly like PageRank's,
    // so the score is partitioning-independent and oracle-mirrorable.
    QueryDef(
      "gx_resource_alloc",
      Some(s"""
        WITH $sqlWedgeMid,
        wed AS (
          SELECT a1.n AS x, a2.n AS y,
                 CAST(SUM(CAST(1.0 / d.deg AS DECIMAL(28,12))) AS DOUBLE) AS ra,
                 COUNT(*) AS cn
          FROM mid a1
          JOIN mid a2 ON a1.m = a2.m AND a1.n < a2.n
          JOIN deg d ON d.m = a1.m
          GROUP BY 1, 2),
        cand AS (
          SELECT w.x, w.y, w.ra, w.cn
          FROM wed w LEFT JOIN e ON e.u = w.x AND e.v = w.y
          WHERE e.u IS NULL)
        SELECT CAST(x AS BIGINT) AS u, CAST(y AS BIGINT) AS v,
               ra, CAST(cn AS BIGINT) AS common_neighbors
        FROM cand
        ORDER BY ra DESC, x, y
        LIMIT 20
      """.trim),
      (s, d) => {
        // Same capped array-wedge shape as gx_common_neighbors. For a
        // KEPT middle node the collected array IS its full
        // neighborhood, so the true 1/deg weight is just 1/size(ns) —
        // the per-wedge degree join disappears entirely.
        val (e, _, nbrs) = cappedNeighbors(s, d)
        // The oracle's DECIMAL(28,12) weight is a 12-fraction-digit
        // fixed-point number — carried here as exact LONG micro-units
        // (w·10¹²) so the 25M-row hot aggregate sums primitive longs
        // instead of boxed decimals; the decimal rounding itself
        // happens once per MIDDLE node (29k rows), identically to the
        // oracle. Per-pair sums are ≤ 64·10¹² ≪ 2⁵³, so the final
        // long→double→÷10¹² is one correctly-rounded division — the
        // same double the oracle's decimal-sum→double cast yields.
        val pairs = nbrs.select(
          ((lit(1.0) / size(col("ns"))).cast(DecimalType(28, 12)) *
            lit(1000000000000L)).cast("long").as("w"),
          wedgePairs)
        val wed = pairs.groupBy(col("pack"))
          .agg((sum(col("w")).cast("double") / lit(1e12)).as("ra"),
            count(lit(1)).as("cn"))
        nonEdges(wed, e, col("ra"), col("cn").as("common_neighbors"))
          .orderBy(col("ra").desc, col("u"), col("v"))
          .limit(20)
      }),

    // Jaccard link prediction — the third classic score, normalizing
    // shared neighbors by neighborhood size: |N(x)∩N(y)| / |N(x)∪N(y)|
    // = cn / (deg(x) + deg(y) − cn). The intersection count reuses the
    // SAME capped array-wedge stream as gx_common_neighbors (bounded by
    // 128·|E|, no skewed key); the degrees in the denominator stay the
    // TRUE degrees (the cap bounds candidate generation, not the
    // metric's normalizer), joined from the O(|V|)-row degree table.
    // Arithmetic is one integer-valued double division — no logs, no
    // double accumulation — so the score is bit-identical across
    // engines and partitionings. (Adamic-Adar's 1/ln(deg) weight is
    // deliberately NOT offered: ln is not IEEE-correctly-rounded and
    // differs between libms, which would break reproducible curation
    // runs; resource-allocation's rational 1/deg weighting covers the
    // same "discount shared hubs" signal deterministically.)
    QueryDef(
      "gx_jaccard_linkpred",
      Some(s"""
        WITH $sqlWedgeMid,
        $sqlCommonNeighborCands
        SELECT CAST(c.x AS BIGINT) AS u, CAST(c.y AS BIGINT) AS v,
               CAST(c.cn AS DOUBLE) / (dx.deg + dy.deg - c.cn) AS jaccard,
               CAST(c.cn AS BIGINT) AS common_neighbors
        FROM cand c
        JOIN deg dx ON dx.m = c.x
        JOIN deg dy ON dy.m = c.y
        ORDER BY jaccard DESC, u, v
        LIMIT 20
      """.trim),
      (s, d) => {
        val (e, deg, nbrs) = cappedNeighbors(s, d)
        val wed = nbrs.select(wedgePairs).groupBy(col("pack")).agg(count(lit(1)).as("cn"))
        // deg is O(|V|) rows — broadcast both denominator joins
        nonEdges(wed, e, col("cn"))
          .join(broadcast(deg.select(col("m").as("u"), col("deg").as("dx"))), Seq("u"))
          .join(broadcast(deg.select(col("m").as("v"), col("deg").as("dy"))), Seq("v"))
          .select(col("u"), col("v"),
            (col("cn").cast("double") / (col("dx") + col("dy") - col("cn"))).as("jaccard"),
            col("cn").as("common_neighbors"))
          .orderBy(col("jaccard").desc, col("u"), col("v"))
          .limit(20)
      }),

    // Synchronous label propagation (3 rounds) — community detection
    // as pure integer relabeling: every node starts as its own label
    // and each round adopts the most frequent label among neighbors
    // (ties → smallest label), so the whole computation is two
    // node-keyed hash shuffles per round (neighbor-label join, then
    // count+argmax) with one (node, label) row of state per node and
    // nothing driver-side. No floats anywhere — the oracle unrolls the
    // identical rounds. Fixed rounds (like gx_pagerank/gx_kcore) keep
    // the oracle mirrorable; production LPA runs the same loop to a
    // change-count fixpoint. Output is the community-size histogram —
    // the shape a curation pipeline reads to decide cluster sampling.
    QueryDef(
      "gx_lpa",
      Some(s"""
        WITH $lpaSqlCtes
        SELECT CAST(lbl AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM l3 GROUP BY lbl ORDER BY size DESC, community
      """.trim),
      (s, d) => {
        labelPropagation(cooccurSym(s, d), rounds = 3,
            parts = dataParts(lineitem(s, d)))
          .groupBy(col("lbl").as("community"))
          .agg(count(lit(1)).as("size"))
          .orderBy(col("size").desc, col("community"))
      }),

    // Degree assortativity — do hubs attach to hubs (r > 0) or to the
    // periphery (r < 0)? Pearson correlation of (deg(src), deg(dst))
    // over the SYMMETRIC edge list: one degree aggregate, one
    // edge-degree join per endpoint, then five BIGINT moment sums
    // (each fits: Σjk ≤ 2m·degmax²) — the final Pearson formula runs
    // on the exact integer values in DOUBLE (identical op order both
    // engines; only n·Σjk would overflow BIGINT, and it happens after
    // the exact sums, in double, deterministically). sqrt is IEEE
    // correctly-rounded → bit-portable.
    QueryDef(
      "gx_assortativity",
      Some(s"""
        WITH ${sqlHashedEdges("e0")},
        e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
        jk AS (
          SELECT du.deg AS j, dv.deg AS k
          FROM e
          JOIN deg du ON du.node = e.src
          JOIN deg dv ON dv.node = e.dst),
        mom AS (
          SELECT COUNT(*) AS n,
                 SUM(j * k) AS sjk, SUM(j) AS sj, SUM(k) AS sk,
                 SUM(j * j) AS sjj, SUM(k * k) AS skk
          FROM jk)
        SELECT CAST(n AS BIGINT) AS n_directed_edges,
               (CAST(n AS DOUBLE) * sjk - CAST(sj AS DOUBLE) * sk)
                 / (sqrt(CAST(n AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj)
                    * sqrt(CAST(n AS DOUBLE) * skk - CAST(sk AS DOUBLE) * sk))
                 AS r_assortativity
        FROM mom
      """.trim),
      (s, d) => {
        val sym = cooccurSym(s, d)
        val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        val jk = sym
          .join(deg.select(col("node").as("src"), col("deg").as("j")), "src")
          .join(deg.select(col("node").as("dst"), col("deg").as("k")), "dst")
        jk.agg(count(lit(1)).as("n"),
            sum(col("j") * col("k")).as("sjk"),
            sum(col("j")).as("sj"), sum(col("k")).as("sk"),
            sum(col("j") * col("j")).as("sjj"),
            sum(col("k") * col("k")).as("skk"))
          .select(col("n").cast("long").as("n_directed_edges"),
            ((col("n").cast("double") * col("sjk")
              - col("sj").cast("double") * col("sk"))
              / (sqrt(col("n").cast("double") * col("sjj")
                  - col("sj").cast("double") * col("sj"))
                * sqrt(col("n").cast("double") * col("skk")
                  - col("sk").cast("double") * col("sk"))))
              .as("r_assortativity"))
      }),

    // Modularity of the LPA partition — the number that says whether
    // the communities are real structure or noise: Q = Σ_c [L_c/m −
    // (D_c/2m)²]. Computed as EXACT integer arithmetic with the
    // common denominator 4m²: each community contributes the integer
    // numerator 4·m·L_c − D_c², summed as BIGINT, with ONE double
    // division at the end — no float accumulation anywhere, so the
    // score is partitioning-independent and bit-portable. Dataflow:
    // intra-edge counts (two label joins on the canonical edge list),
    // per-community degree sums, one aggregate — no driver state.
    QueryDef(
      "gx_modularity",
      Some(s"""
        WITH $lpaSqlCtes,
        m AS (SELECT COUNT(*) AS m FROM e0),
        deg AS (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) t
          GROUP BY node),
        dsum AS (
          SELECT l.lbl AS community, SUM(d.deg) AS dc
          FROM l3 l JOIN deg d ON d.node = l.node
          GROUP BY l.lbl),
        intra AS (
          SELECT lu.lbl AS community, COUNT(*) AS lc
          FROM e0
          JOIN l3 lu ON lu.node = e0.u
          JOIN l3 lv ON lv.node = e0.v
          WHERE lu.lbl = lv.lbl
          GROUP BY lu.lbl),
        terms AS (
          SELECT d.community,
                 COALESCE(i.lc, 0) AS lc, d.dc,
                 4 * m.m * COALESCE(i.lc, 0) - d.dc * d.dc AS num
          FROM dsum d LEFT JOIN intra i ON i.community = d.community
          CROSS JOIN m)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               CAST(m.m AS BIGINT) AS edges,
               CAST(SUM(num) AS DOUBLE) / (4.0 * m.m * m.m) AS q_modularity
        FROM terms CROSS JOIN m
        GROUP BY m.m
      """.trim),
      (s, d) => {
        val sym = cooccurSym(s, d)
        modularity(sym, labelPropagation(sym, rounds = 3,
          parts = dataParts(lineitem(s, d))))
      }),

    // Local clustering coefficient — per-node triangle density
    // 2T(n)/(deg(n)·(deg(n)−1)), the standard "is this node's
    // neighborhood a community or a hub-spoke" diagnostic. Triangle
    // enumeration reuses the degree-ordered orientation (out-degree
    // O(√m), wedge join Σ outdeg² ≤ m√m — the gx_triangles skew
    // defense), then each closed triangle credits its three corners:
    // one unioned explode + a hash count, nothing driver-side. The
    // coefficient is exact-integer T and deg with ONE double division,
    // so the score is bit-portable; top-20 under a (cc, T, node) total
    // order. The oracle enumerates canonical u<v<w triples — the same
    // set, without the orientation (scale is the oracle's privilege).
    QueryDef(
      "gx_clustering_coeff",
      Some(s"""
        WITH ${sqlHashedEdges()},
        deg AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
          GROUP BY n),
        tri AS (
          SELECT x.u AS a, x.v AS b, y.v AS c
          FROM e x
          JOIN e y ON y.u = x.v
          JOIN e z ON z.u = x.u AND z.v = y.v),
        pn AS (
          SELECT n, COUNT(*) AS t FROM (
            SELECT a AS n FROM tri UNION ALL
            SELECT b FROM tri UNION ALL
            SELECT c FROM tri) q
          GROUP BY n)
        SELECT CAST(d.n AS BIGINT) AS node,
               CAST(d.deg AS BIGINT) AS degree,
               CAST(COALESCE(p.t, 0) AS BIGINT) AS triangles,
               CAST(2 * COALESCE(p.t, 0) AS DOUBLE) / (d.deg * (d.deg - 1)) AS local_cc
        FROM deg d LEFT JOIN pn p ON p.n = d.n
        WHERE d.deg >= 2
        ORDER BY local_cc DESC, triangles DESC, node
        LIMIT 20
      """.trim),
      (s, d) => {
        val e = canonicalEdges(hashedPairs(lineitem(s, d)))
        val deg = degrees(e)
        val oriented = degreeOriented(e, deg).persist()
        val wedges = orientedWedges(oriented)
        // ONE pass over the closed-wedge stream: explode each triangle
        // into its three corners inline (a cached 3-way union re-scans
        // the triangle set three times — measurably slower at sf0.1).
        // closure via closeWedges: broadcast under the |E| ceiling,
        // bloom pre-join past it — wedges stream map-side either way
        val perNode = closeWedges(wedges, e, "x", "y")
          .select(explode(array(col("src"), col("x"), col("y"))).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("t"))
        deg.filter(col("deg") >= 2)
          .join(perNode, Seq("n"), "left")
          .select(col("n").cast("long").as("node"),
            col("deg").cast("long").as("degree"),
            coalesce(col("t"), lit(0L)).cast("long").as("triangles"),
            ((lit(2) * coalesce(col("t"), lit(0L))).cast("double")
              / (col("deg") * (col("deg") - 1))).as("local_cc"))
          .orderBy(col("local_cc").desc, col("triangles").desc, col("node"))
          .limit(20)
      }))

  /** Modularity Q of a node→label partition over a SYMMETRIC edge
    * list, via exact integer numerators on the common denominator 4m²
    * (one double division at the end — no float accumulation). */
  def modularity(sym: DataFrame, labels0: DataFrame): DataFrame = {
    val e0 = sym.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val labels = labels0.localCheckpoint()
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val m = e0.agg(count(lit(1)).as("m"))
    val dsum = labels.join(deg, "node")
      .groupBy(col("lbl").as("community")).agg(sum(col("deg")).as("dc"))
    // shuffle_hash on the label side: the checkpointed label table has
    // no stats (ExistingRDD defaults to non-broadcastable), so Spark
    // plans SMJ and AQE coalesces the kilobyte exchanges to ONE task —
    // which then SORTS the 1M+-row edge list single-threaded (~1 s per
    // join, measured). Hash build over the small side skips the sort.
    val intra = e0
      .join(labels.select(col("node").as("u"), col("lbl").as("lu"))
        .hint("shuffle_hash"), "u")
      .join(labels.select(col("node").as("v"), col("lbl").as("lv"))
        .hint("shuffle_hash"), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("community")).agg(count(lit(1)).as("lc"))
    dsum.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"),
        (lit(4) * col("m") * coalesce(col("lc"), lit(0L))
          - col("dc") * col("dc")).as("num"),
        col("m"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_communities"), sum(col("num")).as("snum"))
      .select(col("n_communities"),
        col("m").cast("long").as("edges"),
        (col("snum").cast("double") / (lit(4.0) * col("m") * col("m")))
          .as("q_modularity"))
  }

  /** The hashed (order, part) co-occurrence graph shared by the
    * community queries, as a SYMMETRIC (src, dst) edge list.
    * Persisted: gx_modularity alone consumes it from FOUR subtrees
    * (LPA rounds, degree table, canonical e0 twice) and each re-derive
    * is a full lineitem scan + distinct + union (~1 s at sf0.1,
    * measured as three concurrent 64-task stages) — the CacheManager
    * dedupes the identical plan across consumers within a query. */
  private[operators] def cooccurSym(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val e = canonicalEdges(hashedPairs(li))
    e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      // one-time shuffle to a few src-keyed partitions before caching:
      // the raw union is 2x32 scan splits, so every cached consumer
      // would otherwise pay 64 task launches per scan (5 consumers in
      // gx_modularity); src keying feeds the degree groupBy and the
      // intra-edge joins shuffle-free
      .repartition(dataParts(li), col("src"))
      .persist()
  }

  /** Shared oracle CTEs: co-occurrence graph (`e0` canonical, `e`
    * symmetric) + 3 unrolled LPA rounds ending in `l3(node, lbl)`. */
  private def lpaSqlCtes: String = {
    def round(i: Int): String = s"""l$i AS (
          SELECT node, lbl FROM (
            SELECT e.src AS node, p.lbl,
                   ROW_NUMBER() OVER (
                     PARTITION BY e.src
                     ORDER BY COUNT(*) DESC, p.lbl) AS rn
            FROM e JOIN l${i - 1} p ON e.dst = p.node
            GROUP BY e.src, p.lbl)
          WHERE rn = 1)"""
    s"""${sqlHashedEdges("e0")},
        e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM
                 (SELECT u FROM e0 UNION ALL SELECT v FROM e0) t(u)),
        ${(1 to 3).map(round).mkString(",\n        ")}"""
  }

  /** Multi-source BFS over a SYMMETRIC (u, v) edge list: hop distance
    * (≤ maxHops) from the seed node set via distributed min-merge
    * frontier rounds — per round one node-keyed join and one min
    * aggregate, lineage checkpoint-truncated, no driver-side frontier.
    * Min-merge makes revisits harmless, so fixed rounds equal true BFS
    * up to the hop cap. */
  def bfs(sym: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    var dist = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to maxHops) {
      val step = sym
        .join(dist.select(col("node").as("u"), col("dist")), "u")
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.union(step)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Per-seed BFS: like [[bfs]] but distances are tracked per (seed,
    * node) pair, so each seed's full distance vector survives the
    * min-merge. Same dataflow discipline — frontier ⋈ edges → union →
    * keyed min, hash-shuffled, no driver-side frontier — with state
    * |seeds| × |radius-ball| rows, which is why closeness is always
    * computed from a bounded seed SAMPLE at scale (Eppstein-Wang): the
    * seed set is the budget knob, the per-seed cost is the same
    * min-merge as single-source. */
  def bfsPerSeed(sym: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    var dist = seeds
      .select(col("node").as("seed"), col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to maxHops) {
      val step = sym
        .join(dist.select(col("seed"), col("node").as("u"), col("dist")), "u")
        .select(col("seed"), col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.union(step)
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Synchronous label propagation over a SYMMETRIC (src, dst) edge
    * list: `rounds` iterations of "adopt the most frequent neighbor
    * label, ties to the smallest". Shuffle discipline mirrors
    * [[pagerank]]: the edge list is hash-partitioned ONCE by `dst`
    * (the per-round join key) and cached, each round is that
    * co-partitioned join plus a map-side-combined count and an argmax
    * aggregate, and the label table is checkpointed per round so round
    * i's plan doesn't embed round i-1 twice. State is one (node,
    * label) row per node — nothing is broadcast or collected. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      parts: Int = 8): DataFrame = {
    // Explicit small partition count for the iterated frame: at 32
    // shuffle partitions every round pays 32 task launches per stage
    // on a ~1M-row cached frame (measured 2.7s@8cpus vs 6.5s@32 for
    // gx_modularity, same plan) — AQE only coalesces post-shuffle
    // reads, never a cached scan. 8 partitions ≈ 150k rows each at
    // sf0.1; parts derives from the scan via [[dataParts]] at call
    // sites, so at real scale partition count follows data volume and
    // this co-partitioned join shape is unchanged.
    val e = edges.repartition(parts, col("dst")).persist()
    // LINEAR lineage, one job: each round's label table is consumed by
    // exactly one downstream join, so (as in [[hits]]) intermediate
    // checkpoints only add a sequential materialization barrier per
    // round — dropping them lets the whole rounds-deep join chain plan
    // and schedule as one job. The winning-label tiebreak (max count,
    // then smallest label, via ONE max_by over an exact integer struct)
    // is order-independent, so the result is checkpoint-invariant.
    // Only the RETURNED frame is checkpointed: every caller reads it
    // more than once (modularity twice, the query readout re-sorts).
    var lbl = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      lbl = e
        .join(lbl.select(col("node").as("dst"), col("lbl")).hint("shuffle_hash"), "dst")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("nl"))).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
    }
    lbl.localCheckpoint()
  }

  /** Fixed-round k-core peel over a SYMMETRIC (u, v) edge list: each
    * round drops every edge with an endpoint of degree < k (one degree
    * aggregate + two semi-joins, all node-keyed). Returns the surviving
    * nodes with their remaining degrees; run to fixpoint the survivors
    * are exactly the k-core. */
  def kcore(sym0: DataFrame, k: Int, rounds: Int): DataFrame = {
    var sym = sym0.localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      sym = sym
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
    }
    sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }
}
