package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survivorship (golden record) merge plan — the step AFTER entity
  * resolution that MDM systems actually ship: for every multi-member
  * entity cluster (the er_entity_clusters relation), elect the
  * canonical key (min custkey), resolve each attribute by majority
  * vote with a deterministic tiebreak (higher count, then smaller
  * value), take the max balance, and flag which attributes had
  * conflicting votes — the conflict flags are the data-steward
  * worklist.
  *
  * Determinism: clusters reuse the exact edit-1 + same-attribute edge
  * relation and CC labels; votes are integer counts; every tiebreak
  * is total.
  *
  * Scale: CC labels from the hash-partitioned star fixpoint
  * (Dedup.ccLabels); the vote is one (entity, field, value) aggregate
  * + one ranked pick per entity — keyed windows over member counts,
  * never global.
  */
object GoldenRecord {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "er_golden_record",
      Some(s"""
        WITH RECURSIVE ${EntityRes.sqlMatchMins},
        labeled AS (
          SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, c.c_acctbal,
                 COALESCE(LEAST(c.c_custkey, m.mn), c.c_custkey) AS rep
          FROM customer c LEFT JOIN mins m ON c.c_custkey = m.c_custkey),
        multi AS (
          SELECT rep FROM labeled GROUP BY rep HAVING COUNT(*) >= 2),
        members AS (
          SELECT l.* FROM labeled l JOIN multi USING (rep)),
        nvote AS (
          SELECT rep, c_nationkey AS v, COUNT(*) AS c
          FROM members GROUP BY rep, c_nationkey),
        nbest AS (
          SELECT rep, v AS golden_nation,
                 (SELECT COUNT(DISTINCT c_nationkey) FROM members m
                  WHERE m.rep = nvote.rep) > 1 AS nation_conflict
          FROM (SELECT rep, v, c,
                       ROW_NUMBER() OVER (PARTITION BY rep
                                          ORDER BY c DESC, v) AS rn
                FROM nvote) nvote
          WHERE rn = 1),
        svote AS (
          SELECT rep, c_mktsegment AS v, COUNT(*) AS c
          FROM members GROUP BY rep, c_mktsegment),
        sbest AS (
          SELECT rep, v AS golden_segment,
                 (SELECT COUNT(DISTINCT c_mktsegment) FROM members m
                  WHERE m.rep = svote.rep) > 1 AS segment_conflict
          FROM (SELECT rep, v, c,
                       ROW_NUMBER() OVER (PARTITION BY rep
                                          ORDER BY c DESC, v) AS rn
                FROM svote) svote
          WHERE rn = 1),
        agg AS (
          SELECT rep, COUNT(*) AS entity_size, MAX(c_acctbal) AS golden_acctbal
          FROM members GROUP BY rep)
        SELECT a.rep AS entity_rep, CAST(a.entity_size AS BIGINT) AS entity_size,
               CAST(n.golden_nation AS BIGINT) AS golden_nation,
               s.golden_segment,
               a.golden_acctbal,
               n.nation_conflict, s.segment_conflict
        FROM agg a JOIN nbest n USING (rep) JOIN sbest s USING (rep)
        ORDER BY entity_rep
      """.trim),
      (s, d) => {
        val cust = customer(s, d)
        val edges = EntityRes.matchEdges(cust)
          .select(col("a").as("u"), col("b").as("v"))
        val labels = Dedup.ccLabels(edges)
          .select(col("u").as("c_custkey"), col("v").as("rep0"))
        // Eager checkpoint: `labeled` fans out to five consumers (the
        // entity agg, the member filter, two vote aggregates, two
        // distinct-counts) — without it each consumer re-derives the
        // FastSS pairs subtree AND the CC fixpoint from scratch (the
        // r7 bench tail: 4.9 s; the same r6 fix the core four er
        // queries already carry).
        val labeled = cust
          .join(labels, Seq("c_custkey"), "left")
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
            col("c_acctbal"),
            coalesce(least(col("c_custkey"), col("rep0")), col("c_custkey"))
              .as("rep"))
          .localCheckpoint()
        val multi = labeled.groupBy(col("rep"))
          .agg(count(lit(1)).as("entity_size"),
            max(col("c_acctbal")).as("golden_acctbal"))
          .filter(col("entity_size") >= 2)
        val members = labeled.join(multi.select(col("rep")), "rep")
        // One melted vote pass for BOTH attributes: explode each member
        // to (rep, fld, value), count votes in one aggregate, rank and
        // count-distinct-values in one window pass (nd = rows per
        // (rep, fld) group = distinct values, since the group is the
        // post-count relation), then pivot the two winners back in one
        // rollup. The per-field version ran 2 aggregates + 2 windows +
        // 2 distinct-aggregates + 3 joins — at this data size every
        // extra exchange is pure scheduling floor. Nation values ride
        // as zero-padded strings (0..24 → 2 digits) so the "smaller
        // value" tiebreak stays numeric under the string sort.
        val voted = members.select(col("rep"),
            explode(map(
              lit("n"), lpad(col("c_nationkey").cast("string"), 2, "0"),
              lit("s"), col("c_mktsegment"))).as(Seq("fld", "v")))
          .groupBy(col("rep"), col("fld"), col("v"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("rep"), col("fld"))
          .orderBy(col("c").desc, col("v").asc)
        val wc = Window.partitionBy(col("rep"), col("fld"))
        val best = voted
          .withColumn("rn", row_number().over(w))
          .withColumn("nd", count(lit(1)).over(wc))
          .filter(col("rn") === 1)
        val golden = best.groupBy(col("rep")).agg(
          max(when(col("fld") === "n", col("v"))).as("gn"),
          max(when(col("fld") === "n", col("nd"))).as("ndn"),
          max(when(col("fld") === "s", col("v"))).as("gs"),
          max(when(col("fld") === "s", col("nd"))).as("nds"))
        multi.join(golden, "rep")
          .select(col("rep").as("entity_rep"),
            col("entity_size").cast("long").as("entity_size"),
            col("gn").cast("long").as("golden_nation"),
            col("gs").as("golden_segment"), col("golden_acctbal"),
            (col("ndn") > 1).as("nation_conflict"),
            (col("nds") > 1).as("segment_conflict"))
          .orderBy(col("entity_rep"))
      }))
}
