package graft.operators

import graft.QueryDef
import graft.det
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage over the customer register —
  * the curation step a 100 TB ingest needs before any per-entity
  * aggregate is trustworthy (the reference's memory upserts assume a
  * clean key; real feeds don't have one).
  *
  * The scale-critical piece is CANDIDATE GENERATION: a fuzzy-match
  * self-join must never be the oracle's all-pairs `levenshtein(a,b)`
  * cross product. Pairs within edit distance 1 are generated by the
  * POSITION-TAGGED deletion-neighborhood construction (FastSS, Bocek
  * et al. 2007; the Ed-Join family): every string emits itself
  * (tagged position 0) plus each single-character deletion tagged
  * with the deleted position, and two strings are within edit
  * distance 1 IFF they share a (variant, position-compatible) hub:
  *   - both tags 0          → the strings are identical (lev = 0);
  *   - one tag 0, one tag k → deleting char k of the longer yields
  *                            the shorter exactly (lev = 1, indel);
  *   - equal tags i = i     → the strings agree everywhere except
  *                            position i (lev = 1, substitution).
  * Unequal nonzero tags are rejected in the join condition ("ab" vs
  * "ba" share variant "b" at positions 1≠2 — lev 2, correctly
  * excluded). The tags make the hub membership itself the exact
  * verdict, so there is NO levenshtein verify step at all: the r6
  * version spent 5 s of its 8 s computing O(len²) edit distances over
  * ~1M candidates and another 1 s shuffling both full name strings
  * through a distinct — this shape shuffles (int, variant, byte) keys
  * and dedups integer triples (8.0 s → 1.6 s isolated at sf0.1,
  * byte-identical output). The oracle runs the direct all-pairs
  * inequality join instead — at its scale that is its privilege; the
  * Spark side never does (same discipline as IntervalJoin).
  */
object EntityRes {

  /** Position-tagged deletion-neighborhood keys: struct(v, p) with the
    * name itself at sentinel position 0 plus each single-character
    * deletion at its 1-based deleted position. A run of equal chars
    * emits the same variant at adjacent positions — those duplicate
    * hubs resolve to the same (a, b, lev) row and fall to the final
    * distinct, which carries only integers. */
  private def variantPos(name: String): Column =
    expr(s"concat(array(struct($name AS v, 0 AS p)), " +
      s"transform(sequence(1, length($name)), " +
      s"i -> struct(concat(substr($name, 1, i - 1), " +
      s"substr($name, i + 1, length($name))) AS v, i AS p)))")

  /** Pairs (a < b) of custkeys whose names are within edit distance 1,
    * exact by the position-tag argument above. Linear fan-out + one
    * hash equi-join on the variant string; no distance computation. */
  private[operators] def edit1Pairs(cust: DataFrame): DataFrame = {
    // balanced(): the register often arrives as ONE scan split (small
    // dimension file) and the O(len) variant fan-out would run in a
    // single task — rebalance to session parallelism first (no-op at
    // scale, where the scan already yields ≥ parallelism splits).
    val keyed = balanced(cust)
      .select(col("c_custkey"), explode(variantPos("c_name")).as("vp"))
      .select(col("c_custkey"), col("vp.v").as("variant"), col("vp.p").as("pos"))
    keyed.as("x").join(keyed.as("y"),
        col("x.variant") === col("y.variant") &&
          col("x.c_custkey") < col("y.c_custkey") &&
          (col("x.pos") === col("y.pos") ||
            col("x.pos") === 0 || col("y.pos") === 0))
      .select(col("x.c_custkey").as("a"), col("y.c_custkey").as("b"),
        when(col("x.pos") === 0 && col("y.pos") === 0, 0L)
          .otherwise(1L).as("lev"))
      // min, not distinct: a pair of IDENTICAL names hits both the
      // tag-0/tag-0 hub (lev 0) and every equal-tag deletion hub
      // (emitted as lev 1); keeping both (a,b,lev) rows would diverge
      // from the oracle's one min-lev row per pair. A true lev-1 pair
      // can never emit a 0 row (tag-0/tag-0 ⇒ names equal), so the
      // group-min is exactly the oracle's levenshtein value.
      .groupBy(col("a"), col("b")).agg(min(col("lev")).as("lev"))
  }

  /** Match edges (a < b): names within edit distance 1 AND agreeing
    * deterministic blocking attributes (nation + segment) — the edge
    * relation the whole er cluster family (entity clusters, golden
    * record, stability audit) is built on. The attributes ride the
    * variant explode so agreement is checked INSIDE the candidate
    * equi-join — two narrow int columns on the keyed rows instead of
    * two post-hoc shuffle joins of the pair set back to the register. */
  private[operators] def matchEdges(cust: DataFrame): DataFrame = {
    val keyed = balanced(cust) // single-split dims: parallelize the fan-out
      .select(col("c_custkey"), col("c_nationkey").as("nk"),
        col("c_mktsegment").as("seg"), explode(variantPos("c_name")).as("vp"))
      .select(col("c_custkey"), col("nk"), col("seg"),
        col("vp.v").as("variant"), col("vp.p").as("pos"))
    keyed.as("x").join(keyed.as("y"),
        col("x.variant") === col("y.variant") &&
          col("x.c_custkey") < col("y.c_custkey") &&
          (col("x.pos") === col("y.pos") ||
            col("x.pos") === 0 || col("y.pos") === 0) &&
          col("x.nk") === col("y.nk") && col("x.seg") === col("y.seg"))
      .select(col("x.c_custkey").as("a"), col("y.c_custkey").as("b"))
      .distinct()
  }

  /** The persisted name-registry index artifact: position-tagged
    * deletion variants of every registered name with the blocking
    * attributes attached — built once per register generation, then
    * consumed by every ingest cycle (batch `er_incremental` and the
    * streaming twin [[graft.streaming.Streams.erAdmit]]). One scan +
    * linear fan-out; at 100 TB this is a maintained table, not a
    * per-cycle derivation. */
  def buildNameRegistry(register: DataFrame): DataFrame =
    balanced(register)
      .select(col("c_custkey").as("r_custkey"),
        col("c_nationkey").as("r_nationkey"),
        col("c_mktsegment").as("r_mktsegment"),
        explode(variantPos("c_name")).as("vp"))
      .select(col("r_custkey"), col("r_nationkey"), col("r_mktsegment"),
        col("vp.v").as("variant"), col("vp.p").as("pos"))

  /** Admission verdict for an arriving batch against the registry
    * index — the ER analogue of [[Dedup.admitAgainstIndex]]: each
    * batch record fans out its position-tagged variants and equi-joins
    * the index on the variant string; the position-compatibility
    * predicate (see the object Scaladoc) makes hub membership the
    * exact edit≤1 verdict, and a match additionally requires the
    * deterministic blocking attributes to agree (nation + segment —
    * the same multi-rule matching as `er_entity_clusters`). Cost ∝
    * |batch|·len + |candidates|, independent of register², and every
    * verdict depends ONLY on the index — batch slicing, arrival order,
    * and restarts cannot change it (the convergence property the
    * streaming spec pins). One verdict row per batch record:
    * `is_new` ⇔ no registered entity matched. */
  def admitAgainstRegistry(batch: DataFrame, registry: DataFrame): DataFrame = {
    val keyed = batch
      .select(col("c_custkey").as("b_custkey"),
        col("c_nationkey").as("b_nationkey"),
        col("c_mktsegment").as("b_mktsegment"),
        explode(variantPos("c_name")).as("vp"))
      .select(col("b_custkey"), col("b_nationkey"), col("b_mktsegment"),
        col("vp.v").as("variant"), col("vp.p").as("pos"))
    val matches = keyed.join(registry,
        keyed("variant") === registry("variant") &&
          keyed("b_custkey") =!= registry("r_custkey") &&
          (keyed("pos") === registry("pos") ||
            keyed("pos") === 0 || registry("pos") === 0) &&
          keyed("b_nationkey") === registry("r_nationkey") &&
          keyed("b_mktsegment") === registry("r_mktsegment"))
      .select(col("b_custkey"), col("r_custkey"))
      .distinct()
      .groupBy(col("b_custkey"))
      .agg(count(lit(1)).as("n_matches"), min(col("r_custkey")).as("best_match"))
    batch.select(col("c_custkey"))
      .join(matches, batch("c_custkey") === matches("b_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match"),
        col("n_matches").isNull.as("is_new"))
  }

  /** Shared oracle CTE producing the edit-1 `pairs(a, b, lev)` relation
    * (DuckDB-side only). Formulated as the SAME deletion-neighborhood
    * candidate join the Spark side uses, not all-pairs levenshtein:
    * lev(x,y) ≤ 1 ⟹ U(x) ∩ U(y) ≠ ∅ where U(s) = {s} ∪ 1-deletions(s)
    * (equal: s itself; substitution at i: del_i matches; indel: the
    * shorter string is a deletion variant of the longer) — so an
    * equi-join on variants finds every candidate and the levenshtein
    * verify runs only on those. The all-pairs form was the oracle-side
    * scale killer that made the sf0.1 full selfcheck a multi-hour job
    * (15k names → 112M levenshtein calls in EIGHT oracles sharing this
    * CTE); this shape is ~19 variant rows per name and group-bounded
    * joins, same result set by the FastSS completeness argument. */
  private[operators] def sqlPairs: String = """
    vars AS (
      SELECT c_custkey, c_name,
             unnest(list_distinct(list_append(
               list_transform(range(1, len(c_name) + 1),
                 i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)),
               c_name))) AS v
      FROM customer),
    cand1 AS (
      SELECT DISTINCT x.c_custkey AS a, y.c_custkey AS b
      FROM vars x JOIN vars y ON x.v = y.v AND x.c_custkey < y.c_custkey),
    pairs AS (
      SELECT c.a, c.b,
             CAST(levenshtein(cx.c_name, cy.c_name) AS BIGINT) AS lev
      FROM cand1 c
      JOIN customer cx ON cx.c_custkey = c.a
      JOIN customer cy ON cy.c_custkey = c.b
      WHERE levenshtein(cx.c_name, cy.c_name) <= 1)""".trim

  /** SQL mirror of [[matchEdges]]: [[sqlPairs]] and the pairs that also
    * agree on nation and market segment, `medges(a, b)`. */
  private[operators] def sqlMatchEdges: String = s"""$sqlPairs,
        medges AS (
          SELECT p.a, p.b FROM pairs p
          JOIN customer x ON p.a = x.c_custkey
          JOIN customer y ON p.b = y.c_custkey
          WHERE x.c_nationkey = y.c_nationkey
            AND x.c_mktsegment = y.c_mktsegment)"""

  /** [[sqlMatchEdges]] labelled as `Dedup.ccLabels` labels it: the
    * symmetric `edges`, their transitive closure `walk` (a recursive
    * CTE: the WITH needs RECURSIVE) and each linked customer's smallest
    * reachable key, `mins(c_custkey, mn)`. */
  private[operators] def sqlMatchMins: String = s"""$sqlMatchEdges,
        edges AS (SELECT a AS u, b AS v FROM medges
                  UNION ALL SELECT b, a FROM medges),
        walk(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
        mins AS (SELECT u AS c_custkey, MIN(v) AS mn FROM walk GROUP BY u)"""

  val defs: Seq[QueryDef] = Seq(

    // Edit-distance-1 name pairs via deletion-neighborhood join.
    QueryDef(
      "er_edit1_pairs",
      Some(s"""
        WITH $sqlPairs
        SELECT a, b, lev FROM pairs ORDER BY a, b
      """.trim),
      (s, d) => edit1Pairs(customer(s, d)).orderBy(col("a"), col("b"))),

    // Entity clusters: a match needs BOTH a near-identical name and
    // agreeing deterministic attributes (nation + segment) — the
    // multi-rule blocking that keeps components small and meaningful.
    // Connected components run the alternating-star min-label fixpoint
    // (Dedup.ccLabels); the oracle walks the same transitive closure
    // with a recursive CTE over its (tiny, stratified) edge set.
    QueryDef(
      "er_entity_clusters",
      Some(s"""
        WITH RECURSIVE $sqlMatchMins,
        reps AS (
          SELECT c.c_custkey,
                 COALESCE(LEAST(c.c_custkey, m.mn), c.c_custkey) AS entity_rep
          FROM customer c LEFT JOIN mins m ON c.c_custkey = m.c_custkey)
        SELECT c_custkey, entity_rep,
               CAST(COUNT(*) OVER (PARTITION BY entity_rep) AS BIGINT)
                 AS entity_size
        FROM reps
        ORDER BY c_custkey
      """.trim),
      (s, d) => {
        val cust = customer(s, d)
        val edges = matchEdges(cust)
          .select(col("a").as("u"), col("b").as("v"))
        val labels = Dedup.ccLabels(edges)
          .select(col("u").as("c_custkey"), col("v").as("rep"))
        val full = cust.select(col("c_custkey"))
          .join(labels, Seq("c_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("rep"), col("c_custkey")).as("entity_rep"))
        val sizes = full.groupBy(col("entity_rep"))
          .agg(count(lit(1)).as("entity_size"))
        full.join(sizes, "entity_rep")
          .select(col("c_custkey"), col("entity_rep"), col("entity_size"))
          .orderBy(col("c_custkey"))
      }),

    // Fellegi–Sunter (JASA 1969) match weights over the edit-1
    // candidates. u-probabilities (chance agreement between UNMATCHED
    // records) for the categorical fields come from the data itself
    // WITHOUT any pairwise work: P(two random records share a value)
    // = (Σ_v c_v² − N) / (N² − N), two tiny aggregates broadcast as
    // one-row dimensions. m-probabilities are fixed clerical
    // constants, as is u for the continuous balance-proximity field.
    // Weights stay in ratio space (products of m/u odds) rather than
    // log space — exact IEEE determinism, no libm transcendentals.
    QueryDef(
      "er_fellegi_sunter",
      Some(s"""
        WITH $sqlPairs,
        uf AS (
          SELECT
            (CAST(SUM(cn * cn) - SUM(cn) AS DOUBLE))
              / (CAST(SUM(cn) AS DOUBLE) * NULLIF(SUM(cn) - 1, 0)) AS u_nation
          FROM (SELECT COUNT(*) AS cn FROM customer GROUP BY c_nationkey)),
        us AS (
          SELECT
            (CAST(SUM(cs * cs) - SUM(cs) AS DOUBLE))
              / (CAST(SUM(cs) AS DOUBLE) * NULLIF(SUM(cs) - 1, 0)) AS u_segment
          FROM (SELECT COUNT(*) AS cs FROM customer GROUP BY c_mktsegment)),
        scored AS (
          SELECT p.a, p.b,
                 x.c_nationkey = y.c_nationkey AS nation_agree,
                 x.c_mktsegment = y.c_mktsegment AS segment_agree,
                 abs(x.c_acctbal - y.c_acctbal) < 100.0 AS bal_agree,
                 (CASE WHEN x.c_nationkey = y.c_nationkey
                       THEN 0.95 / u_nation ELSE 0.05 / (1.0 - u_nation) END)
                 * (CASE WHEN x.c_mktsegment = y.c_mktsegment
                         THEN 0.95 / u_segment ELSE 0.05 / (1.0 - u_segment) END)
                 * (CASE WHEN abs(x.c_acctbal - y.c_acctbal) < 100.0
                         THEN 0.9 / 0.05 ELSE 0.1 / 0.95 END) AS weight
          FROM pairs p
          JOIN customer x ON p.a = x.c_custkey
          JOIN customer y ON p.b = y.c_custkey
          CROSS JOIN uf CROSS JOIN us)
        SELECT a, b, nation_agree, segment_agree, bal_agree, weight,
               CASE WHEN weight >= 100.0 THEN 'match'
                    WHEN weight >= 1.0 THEN 'possible'
                    ELSE 'non_match' END AS decision
        FROM scored
        ORDER BY a, b
      """.trim),
      (s, d) => {
        val cust = customer(s, d)
        // NULLIF guards the N·(N−1) denominator: on a degenerate 1-row
        // register the u-probability is undefined — surface NULL (both
        // engines agree: x / NULL = NULL) instead of a silent NaN.
        def uAgree(field: String, alias: String): DataFrame = {
          val c = cust.groupBy(col(field)).agg(count(lit(1)).as("cn"))
          c.agg(
            ((sum(col("cn") * col("cn")) - sum(col("cn"))).cast("double")
              / (sum(col("cn")).cast("double")
                * nullif(sum(col("cn")) - 1, lit(0))))
              .as(alias))
        }
        val attrs = cust.select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
        val scored = edit1Pairs(cust)
          .join(attrs.select(col("c_custkey").as("a"),
            col("c_nationkey").as("na"), col("c_mktsegment").as("sa"),
            col("c_acctbal").as("ba")), "a")
          .join(attrs.select(col("c_custkey").as("b"),
            col("c_nationkey").as("nb"), col("c_mktsegment").as("sb"),
            col("c_acctbal").as("bb")), "b")
          .crossJoin(broadcast(uAgree("c_nationkey", "u_nation")))
          .crossJoin(broadcast(uAgree("c_mktsegment", "u_segment")))
          .select(col("a"), col("b"),
            (col("na") === col("nb")).as("nation_agree"),
            (col("sa") === col("sb")).as("segment_agree"),
            (abs(col("ba") - col("bb")) < 100.0).as("bal_agree"),
            (when(col("na") === col("nb"), lit(0.95) / col("u_nation"))
              .otherwise(lit(0.05) / (lit(1.0) - col("u_nation")))
              * when(col("sa") === col("sb"), lit(0.95) / col("u_segment"))
                .otherwise(lit(0.05) / (lit(1.0) - col("u_segment")))
              * when(abs(col("ba") - col("bb")) < 100.0,
                  lit(0.9) / lit(0.05)).otherwise(lit(0.1) / lit(0.95)))
              .as("weight"))
        scored
          .withColumn("decision",
            when(col("weight") >= 100.0, "match")
              .when(col("weight") >= 1.0, "possible")
              .otherwise("non_match"))
          .orderBy(col("a"), col("b"))
      }),

    // Blocking-quality audit (Christen, "Data Matching" 2012 §7):
    // pair completeness (recall of true edit-1 pairs surfaced by the
    // block) and reduction ratio (candidate volume vs all pairs) for
    // a 16-char name-prefix blocking scheme. The candidate COUNT comes
    // from block sizes (Σ n·(n−1)/2 over a groupBy) — candidates are
    // never materialized, so the audit itself is linear even when the
    // scheme under audit is bad; found-pairs is the exact truth
    // relation (deletion-neighborhood + verify) equi-joined to the two
    // block keys. This is the query you run BEFORE committing to a
    // blocking key at 100 TB.
    QueryDef(
      "er_blocking_quality",
      Some(s"""
        WITH $sqlPairs,
        blk AS (SELECT c_custkey, substr(c_name, 1, 16) AS blk_key FROM customer),
        bsz AS (SELECT blk_key, COUNT(*) AS n FROM blk GROUP BY blk_key),
        cand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                        CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_cand
                 FROM bsz),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        tstat AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
                 CAST(SUM(CASE WHEN xa.blk_key = xb.blk_key THEN 1 ELSE 0 END) AS BIGINT) AS n_found
          FROM pairs p
          JOIN blk xa ON xa.c_custkey = p.a
          JOIN blk xb ON xb.c_custkey = p.b)
        SELECT c.n_blocks, c.n_cand, t.n_true, t.n_found,
               ${det.sqlSnap9("t.n_found * 1.0 / t.n_true")} AS pair_completeness,
               ${det.sqlSnap9("1.0 - c.n_cand * 1.0 / (o.n * (o.n - 1) / 2)")} AS reduction_ratio
        FROM cand c, tot o, tstat t
      """.trim),
      (s, d) => {
        val cust = customer(s, d)
        val blk = cust.select(col("c_custkey"),
          substring(col("c_name"), 1, 16).as("blk_key"))
        val cand = blk.groupBy(col("blk_key")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(expr("n * (n - 1) div 2")).as("n_cand"))
        val tot = cust.agg(count(lit(1)).as("n"))
        val tstat = edit1Pairs(cust)
          .join(blk.select(col("c_custkey").as("a"), col("blk_key").as("ka")), Seq("a"))
          .join(blk.select(col("c_custkey").as("b"), col("blk_key").as("kb")), Seq("b"))
          .agg(count(lit(1)).as("n_true"),
            sum(when(col("ka") === col("kb"), 1L).otherwise(0L)).as("n_found"))
        cand.crossJoin(tot).crossJoin(tstat)
          .select(col("n_blocks"), col("n_cand"), col("n_true"), col("n_found"),
            det.snap9(col("n_found") * 1.0 / col("n_true")).as("pair_completeness"),
            det.snap9(lit(1.0) - col("n_cand") * 1.0 /
              (col("n") * (col("n") - 1) / 2)).as("reduction_ratio"))
      }),

    // Incremental admission: an arriving batch (custkey ≡ 0 mod 5 —
    // the same deterministic split discipline as dd_incremental)
    // admitted against the registry index built from the rest. Batch
    // side uses the index artifacts + position-tag join; the oracle
    // runs batch×register all-pairs levenshtein — its privilege at
    // sf0.01, never the Spark side's. Verdicts depend only on the
    // index, which is what lets the streaming twin (Streams.erAdmit)
    // run the identical operator micro-batch by micro-batch.
    QueryDef(
      "er_incremental",
      Some("""
        WITH batch AS (SELECT * FROM customer WHERE c_custkey % 5 = 0),
        reg AS (SELECT * FROM customer WHERE c_custkey % 5 <> 0),
        m AS (
          SELECT b.c_custkey, r.c_custkey AS r_custkey
          FROM batch b JOIN reg r
            ON levenshtein(b.c_name, r.c_name) <= 1
           AND b.c_nationkey = r.c_nationkey
           AND b.c_mktsegment = r.c_mktsegment),
        agg AS (
          SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_matches,
                 MIN(r_custkey) AS best_match
          FROM m GROUP BY c_custkey)
        SELECT b.c_custkey,
               COALESCE(a.n_matches, 0) AS n_matches,
               a.best_match,
               a.n_matches IS NULL AS is_new
        FROM batch b LEFT JOIN agg a ON b.c_custkey = a.c_custkey
        ORDER BY b.c_custkey
      """.trim),
      (s, d) => {
        val cust = customer(s, d)
        val batch = cust.filter(col("c_custkey") % 5 === 0)
        val registry = buildNameRegistry(cust.filter(col("c_custkey") % 5 =!= 0))
        admitAgainstRegistry(batch, registry).orderBy(col("c_custkey"))
      }),

    // Fuzzy lookup at edit distance ≤ 2 — the fuzzy-match-service
    // pattern: a bounded probe set (custkey ≡ 0 mod 50, 2% of rows)
    // against a huge register. Candidates come from the symmetric
    // ≤2-deletion neighborhood (FastSS at radius 2: ed(u,v) ≤ 2 ⟹ the
    // two ≤2-deletion variant sets intersect — each substitution marks
    // one position per side, each indel one position on one side;
    // deleting the marked positions leaves a shared variant). Two
    // scale choices make it cheap:
    //   (1) variants are joined as xxhash64 LONGS, not strings — the
    //       O(len²) per-row fan-out shuffles 8-byte keys instead of
    //       full name copies (collisions are harmless: the verify step
    //       is exact);
    //   (2) the PROBE index — the only small side — is broadcast, so
    //       the register's big explode is consumed map-side by a
    //       broadcast hash join and never shuffles at all. At 100 TB
    //       this is exactly the lookup-service plan: ship the query
    //       batch's index to the data.
    // Segment-based filters (PassJoin) were measured WORSE here: these
    // names share a long constant prefix, so whole-string-sized keys
    // are the only selective ones — and the "single deletions
    // register-side" asymmetric scheme is not exact (a 2-substitution
    // pair needs two deletions on each side). The filter is not a
    // verdict: candidates (distinct on the INTEGER pair — the r6
    // lesson) are verified with the banded `levenshtein(a, b, 2)` —
    // O(len·k) per candidate, never the oracle's all-pairs O(len²)
    // cross product.
    QueryDef(
      "er_edit2_lookup",
      Some("""
        WITH probe AS (SELECT * FROM customer WHERE c_custkey % 50 = 0),
        reg AS (SELECT * FROM customer WHERE c_custkey % 50 <> 0)
        SELECT p.c_custkey AS p_custkey, r.c_custkey AS r_custkey,
               CAST(levenshtein(p.c_name, r.c_name) AS BIGINT) AS lev
        FROM probe p JOIN reg r ON levenshtein(p.c_name, r.c_name) <= 2
        ORDER BY p_custkey, r_custkey
      """.trim),
      (s, d) => {
        val cust = customer(s, d)
        val probes = cust.filter(col("c_custkey") % 50 === 0)
        val reg = cust.filter(col("c_custkey") % 50 =!= 0)
        def keyed(df: DataFrame, side: String): DataFrame = balanced(df)
          .select(col("c_custkey").as(s"${side}_custkey"),
            explode(variants2Hashed("c_name")).as("h"))
        val cand = keyed(reg, "r")
          .join(broadcast(keyed(probes, "p")), "h")
          .select(col("p_custkey"), col("r_custkey"))
          .distinct()
        cand
          .join(broadcast(probes.select(col("c_custkey").as("p_custkey"),
            col("c_name").as("pn"))), "p_custkey")
          .join(reg.select(col("c_custkey").as("r_custkey"),
            col("c_name").as("rn")), "r_custkey")
          .withColumn("lev", levenshtein(col("pn"), col("rn"), 2).cast("long"))
          .filter(col("lev") >= 0)
          .select(col("p_custkey"), col("r_custkey"), col("lev"))
          .orderBy(col("p_custkey"), col("r_custkey"))
      }))

  /** xxhash64 of every variant from deleting ≤ 2 characters (the
    * string itself, all single deletions, all i<j double deletions),
    * dedup'd per row. O(len²) fan-out per string — the price of radius
    * 2; still linear in the relation, and 8 bytes per key on the wire. */
  private def variants2Hashed(name: String): Column = {
    val L = s"length($name)"
    expr(s"""array_distinct(transform(concat(
      array($name),
      transform(sequence(1, $L), i ->
        concat(substr($name, 1, i - 1), substr($name, i + 1, $L))),
      flatten(transform(sequence(1, $L - 1), i ->
        transform(sequence(i + 1, $L), j ->
          concat(substr($name, 1, i - 1),
                 substr($name, i + 1, j - i - 1),
                 substr($name, j + 1, $L)))))), v -> xxhash64(v)))""")
  }

}
