package graft.operators

import graft.QueryDef
import graft.det
import graft.functions.PortableHash
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** Entity-cluster stability under edge dropout — the DOULION idea
  * applied to entity resolution: rerun the er_entity_clusters
  * components with HALF the match edges (deterministic portable-hash
  * coin) and score agreement with the full clustering by the Rand
  * index, computed in closed form from the two labelings' contingency
  * counts (never from materialized pairs). A high RI says the
  * clusters rest on redundant evidence; RI collapsing under dropout
  * marks chains held together by single fragile links — exactly the
  * merges a steward should review first.
  *
  * Determinism: labels are min-id components from the shared CC
  * fixpoint; all Rand terms are exact integer combinatorics; RI is
  * one exact-int ratio.
  *
  * Scale: two CC fixpoints on the (linear, FastSS-generated) edge
  * relation + ONE contingency aggregate over users — the pair counts
  * come from Σ C(n,2) algebra on group sizes.
  */
object ClusterStability {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "er_cluster_stability",
      Some(s"""
        WITH RECURSIVE ${EntityRes.sqlMatchEdges},
        dropped AS (
          SELECT a, b FROM medges
          WHERE ${PortableHash.sqlH32(
          "CAST(a AS VARCHAR) || '~' || CAST(b AS VARCHAR)")} % 2 = 0),
        edges_f AS (SELECT a AS u, b AS v FROM medges
                    UNION ALL SELECT b, a FROM medges),
        walk_f(u, v) AS (
          SELECT u, v FROM edges_f
          UNION
          SELECT w.u, e.v FROM walk_f w JOIN edges_f e ON w.v = e.u),
        lab_f AS (
          SELECT c.c_custkey,
                 COALESCE(LEAST(c.c_custkey, m.mn), c.c_custkey) AS lf
          FROM customer c
          LEFT JOIN (SELECT u, MIN(v) AS mn FROM walk_f GROUP BY u) m
            ON m.u = c.c_custkey),
        edges_h AS (SELECT a AS u, b AS v FROM dropped
                    UNION ALL SELECT b, a FROM dropped),
        walk_h(u, v) AS (
          SELECT u, v FROM edges_h
          UNION
          SELECT w.u, e.v FROM walk_h w JOIN edges_h e ON w.v = e.u),
        lab_h AS (
          SELECT c.c_custkey,
                 COALESCE(LEAST(c.c_custkey, m.mn), c.c_custkey) AS lh
          FROM customer c
          LEFT JOIN (SELECT u, MIN(v) AS mn FROM walk_h GROUP BY u) m
            ON m.u = c.c_custkey),
        pairing AS (
          SELECT f.lf, h.lh FROM lab_f f JOIN lab_h h USING (c_custkey)),
        nij AS (SELECT lf, lh, COUNT(*) AS n FROM pairing GROUP BY lf, lh),
        si AS (
          SELECT SUM(n * (n - 1) // 2) AS s FROM
            (SELECT lf, SUM(n) AS n FROM nij GROUP BY lf)),
        sj AS (
          SELECT SUM(n * (n - 1) // 2) AS s FROM
            (SELECT lh, SUM(n) AS n FROM nij GROUP BY lh)),
        sij AS (SELECT SUM(n * (n - 1) // 2) AS s FROM nij),
        tot AS (SELECT COUNT(*) AS n FROM pairing),
        k AS (
          SELECT (SELECT COUNT(DISTINCT lf) FROM pairing) AS k_full,
                 (SELECT COUNT(DISTINCT lh) FROM pairing) AS k_half)
        SELECT CAST(tot.n AS BIGINT) AS n_records,
               CAST(k.k_full AS BIGINT) AS clusters_full,
               CAST(k.k_half AS BIGINT) AS clusters_half,
               CAST((SELECT COUNT(*) FROM medges) AS BIGINT) AS edges_full,
               CAST((SELECT COUNT(*) FROM dropped) AS BIGINT) AS edges_half,
               ${det.sqlSnap9(
          "1.0 - (si.s + sj.s - 2 * sij.s) * 1.0 / (tot.n * (tot.n - 1) / 2)")}
                 AS rand_index
        FROM si, sj, sij, tot, k
      """.trim),
      (s, d) => {
        import s.implicits._
        val cust = customer(s, d)
        val medges = EntityRes.matchEdges(cust)
          .localCheckpoint() // consumed by both clusterings + counts
        // no checkpoint: the only consumers are ccLabels (which
        // checkpoints its own deduped edge input immediately) and the
        // fused edge-count aggregate below, both reading the medges
        // checkpoint through one cheap filter.
        val dropped = medges.filter(PortableHash.h32(concat(
          $"a".cast("string"), lit("~"), $"b".cast("string"))) % 2 === 0)
        def labels(es: org.apache.spark.sql.DataFrame, name: String) = {
          val lab = Dedup.ccLabels(es.select($"a".as("u"), $"b".as("v")))
            .select($"u".as("c_custkey"), $"v".as("rep"))
          cust.select($"c_custkey")
            .join(lab, Seq("c_custkey"), "left")
            .select($"c_custkey",
              coalesce(least($"c_custkey", $"rep"), $"c_custkey").as(name))
        }
        // Eager checkpoint: `both` feeds the contingency table AND the
        // n_records/cluster-count aggregates — without it each of the
        // three consumers re-runs BOTH CC fixpoints (the r7 bench
        // tail: 5.8 s for a query whose real work is two fixpoints).
        val both = labels(medges, "lf").join(labels(dropped, "lh"), "c_custkey")
          .localCheckpoint()
        val nij = both.groupBy($"lf", $"lh").agg(count(lit(1)).as("n"))
          .localCheckpoint()
        // Fused one-row branches: n/k_full/k_half in ONE aggregate over
        // `both`, the two edge counts in ONE conditional aggregate over
        // `medges` (the dropout coin re-evaluated as a count filter) —
        // every extra one-row branch is a separate exchange + AQE
        // sub-job, and at this data size scheduling is the runtime.
        val si = nij.groupBy($"lf").agg(sum($"n").as("n"))
          .agg(sum(expr("n * (n - 1) div 2")).as("si"))
        val sj = nij.groupBy($"lh").agg(sum($"n").as("n"))
          .agg(sum(expr("n * (n - 1) div 2")).as("sj"))
        val sij = nij.agg(sum(expr("n * (n - 1) div 2")).as("sij"))
        val tot = both.agg(count(lit(1)).as("n"),
          countDistinct($"lf").as("k_full"),
          countDistinct($"lh").as("k_half"))
        val ecnt = medges.agg(count(lit(1)).as("edges_full"),
          count(when(PortableHash.h32(concat($"a".cast("string"), lit("~"),
            $"b".cast("string"))) % 2 === 0, 1)).as("edges_half"))
        tot.crossJoin(ecnt)
          .crossJoin(si).crossJoin(sj).crossJoin(sij)
          .select($"n".cast("long").as("n_records"),
            $"k_full".cast("long").as("clusters_full"),
            $"k_half".cast("long").as("clusters_half"),
            $"edges_full".cast("long").as("edges_full"),
            $"edges_half".cast("long").as("edges_half"),
            det.snap9(lit(1.0) - ($"si" + $"sj" - lit(2) * $"sij") * lit(1.0)
              / ($"n" * ($"n" - 1) / 2)).as("rand_index"))
      }))
}
