package graft.operators

import graft.QueryDef
import graft.det
import graft.functions.PortableHash._
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** b-bit minwise hashing (Li & König, CACM 2011): store only the
  * lowest b bits of each minhash value and estimate Jaccard from the
  * b-bit agreement rate — the signature shrinks 32/b-fold (here 16×:
  * 2 bits instead of a 32-bit value), which at 100 TB is the
  * difference between a signature table that fits executor memory for
  * the bucket join and one that doesn't. The price is chance
  * agreement: two DIFFERENT minhash values collide on their low b bits
  * with probability ≈ 2^-b, so the estimator inverts
  * E[C] = C0 + (1 − C0)·J with C0 = 2^-b (the large-universe
  * approximation of Li & König's r1/r2 correction; shingle universes
  * here are ≫ 2^b, where the full correction is within rounding of
  * this form).
  *
  * The query audits the estimator against the exact bigram Jaccard on
  * the LSH candidate pairs: per pair, the 16-hash agreement count, the
  * b = 2 estimate, and its absolute error. This is the measurement you
  * run BEFORE committing a fleet to compressed signatures.
  *
  * Determinism: agreement counts are integer; C = k/16 is dyadic-exact
  * in double; the estimate is one fixed-order rational expression of
  * it; exact Jaccard is the same integer-ratio formula as every dd_*
  * oracle. Scale: signatures are one groupBy; candidates come from the
  * banded join (never all pairs); the b-bit agreement is a per-pair
  * projection over two 16-int rows.
  */
object BbitMinhash {

  private val B_BITS = 2
  private val M = 1 << B_BITS // low-bit modulus: 4

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dd_bbit_minhash", {
        val matchSum = minhashParams.indices
          .map(i => s"CASE WHEN sx.mh$i % $M = sy.mh$i % $M THEN 1 ELSE 0 END")
          .mkString(" + ")
        Some(s"""
          WITH ${Dedup.sqlLshCandCtes("documents")},
          scored AS (
            SELECT c.i, c.j,
                   CAST($matchSum AS BIGINT) AS n_match,
                   COALESCE(cm.common, 0) * 1.0
                     / (sa.n + sb.n - COALESCE(cm.common, 0)) AS jac
            FROM cand c
            JOIN sigs sx ON c.i = sx.doc_id
            JOIN sigs sy ON c.j = sy.doc_id
            JOIN sizes sa ON c.i = sa.doc_id
            JOIN sizes sb ON c.j = sb.doc_id
            LEFT JOIN common cm ON c.i = cm.i AND c.j = cm.j)
          SELECT i, j, n_match,
                 ${det.sqlSnap9("jac")} AS jac,
                 ${det.sqlSnap9(s"(n_match / 16.0 - 1.0 / $M) / (1.0 - 1.0 / $M)")}
                   AS bbit_est,
                 ${det.sqlSnap9(
          s"abs(jac - (n_match / 16.0 - 1.0 / $M) / (1.0 - 1.0 / $M))")}
                   AS abs_err
          FROM scored
          ORDER BY i, j
        """.trim)
      },
      (s, d) => {
        val docs = documents(s, d)
        val sigs = Dedup.minhashSignatures(Dedup.shingles(docs))
          .localCheckpoint() // feeds the band join AND both sides of the b-bit projection
        val cand = Dedup.lshCandidates(sigs)
        val exact = Dedup.jaccardForPairs(docs, cand)
        val sigI = sigs.select(
          col("doc_id").as("i") +:
            minhashParams.indices.map(k => (col(s"mh$k") % M).as(s"xi$k")): _*)
        val sigJ = sigs.select(
          col("doc_id").as("j") +:
            minhashParams.indices.map(k => (col(s"mh$k") % M).as(s"yj$k")): _*)
        val nMatch = minhashParams.indices
          .map(k => when(col(s"xi$k") === col(s"yj$k"), 1L).otherwise(0L))
          .reduce(_ + _)
        val c0 = 1.0 / M
        exact.join(sigI, "i").join(sigJ, "j")
          .select(col("i"), col("j"), nMatch.as("n_match"), col("jac"))
          .select(col("i"), col("j"), col("n_match"),
            det.snap9(col("jac")).as("jac"),
            det.snap9((col("n_match") / 16.0 - c0) / (1.0 - c0)).as("bbit_est"),
            det.snap9(abs(col("jac") -
              (col("n_match") / 16.0 - c0) / (1.0 - c0))).as("abs_err"))
          .orderBy(col("i"), col("j"))
      }))
}
