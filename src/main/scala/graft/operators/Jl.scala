package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Johnson–Lindenstrauss random-projection compression — the third
  * leg of the vector-compression family (PQ quantizes per-subspace,
  * SQ8 quantizes per-dimension, JL REDUCES DIMENSION): 64 dims → 16
  * via a deterministic sparse integer matrix (entries in [-3, 3] from
  * the same hash-parameter family as the LSH hyperplanes, offset so
  * the planes differ), then exact cosine in the projected space and
  * recall@5 vs the full-dimension brute-force truth — every candidate
  * scored, so the number isolates pure projection loss.
  *
  * The measured verdict on THIS corpus is the point of the harness:
  * recall ≈ 0.06 (vs SQ8's 1.0 and PQ's 0.3) — the synthetic
  * embeddings' true-neighbor cosines sit barely above background
  * (the documented corpus property [[Similarity.ivfNearDupPairs]]
  * also hits), and a 4× dimension cut erases that thin margin where
  * 8-bit scalar quantization does not. Raising K to 48 doesn't
  * recover it (measured 0.08). A compression decision made from this
  * table picks SQ8; that is precisely what the recall family is for.
  *
  * Determinism: projection components accumulate in DECIMAL(18,9)
  * (order-independent — the lshBuckets discipline) and export as
  * exact ×1e9 integers; projected dots/norms are DECIMAL(19,0)
  * products summed in DECIMAL(38,0) — exact at any corpus size — and
  * only the final cosine divides in double, identically in both
  * engines. The 10 query projections (160 longs) are the only driver
  * state; candidate scoring is a single corpus scan with row-local
  * decimal folds against the query literals — no join, the
  * sim_pq_recall ADC shape.
  */
object Jl {

  private val K = 16 // projected dimension
  private val OFF = 100 // plane offset: distinct from the LSH planes

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "sim_jl_recall",
      Some(s"""
        WITH proj AS (
          SELECT vec_id, p AS k,
                 CAST(SUM(CAST(embedding[d + 1] AS DECIMAL(18,9))
                      * (((1103515245 * ((p + $OFF) * 64 + d) + 12345) // 65536) % 7 - 3))
                      * 1000000000 AS BIGINT) AS s9
          FROM embeddings, range(0, 64) t(d), range(0, $K) r(p)
          GROUP BY vec_id, p),
        dots AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
                 SUM(CAST(q.s9 AS DECIMAL(19,0)) * CAST(c.s9 AS DECIMAL(19,0))) AS dp,
                 SUM(CAST(q.s9 AS DECIMAL(19,0)) * CAST(q.s9 AS DECIMAL(19,0))) AS na,
                 SUM(CAST(c.s9 AS DECIMAL(19,0)) * CAST(c.s9 AS DECIMAL(19,0))) AS nb
          FROM proj q JOIN proj c ON q.k = c.k
          WHERE q.vec_id < 10 AND c.vec_id >= 10
          GROUP BY 1, 2),
        cands AS (
          SELECT qid, nid,
                 CAST(dp AS DOUBLE)
                   / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
          FROM dots),
        ${Similarity.sqlRecallTail}
      """.trim),
      (s, d) => {
        val spark = s
        import spark.implicits._
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d).localCheckpoint()
        def coef(p: Int, dCol: org.apache.spark.sql.Column) =
          (lit(1103515245L) * (lit((p + OFF) * 64) + dCol) + lit(12345L))
            .divide(lit(65536L)).cast("long") % 7 - 3
        // ONE explode + ONE groupBy with K decimal sums (the
        // lshBuckets shape), exported as exact ×1e9 integers
        val exploded = emb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("d", "v")))
        val proj = exploded.groupBy(col("vec_id"))
          .agg(
            (sum(col("v").cast(DecimalType(18, 9)) * coef(0, col("d")))
              * lit(1000000000L)).cast("long").as("s0"),
            (1 until K).map(p =>
              (sum(col("v").cast(DecimalType(18, 9)) * coef(p, col("d")))
                * lit(1000000000L)).cast("long").as(s"s$p")): _*)
        val qRows: Seq[(Long, Seq[Long])] = proj.filter(col("vec_id") < 10)
          .select(col("vec_id"), array((0 until K).map(p => col(s"s$p")): _*))
          .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
        val dec19 = DecimalType(19, 0)
        // Row-local decimal folds against the query literals — exact,
        // identical to the oracle's grouped DECIMAL sums. The query
        // constants ride in ONE array<struct> literal (qid, the K
        // projected components, the exact decimal norm) and the
        // per-candidate arithmetic is written ONCE, downstream of the
        // explode. The previous shape inlined all 10 queries' folds
        // into the Generate's doConsume — ~1.7k expressions, a
        // 14k-line janino unit over the 64 KB method limit, silently
        // falling back to interpreted execution (r9 verdict #3). This
        // shape is ~40 expressions, stays inside whole-stage codegen,
        // and shares the candidate norm instead of recomputing it 10×.
        val qlit = array(qRows.map { case (qid, qs) =>
          struct(lit(qid).as("qid"),
            array(qs.map(v => lit(v)): _*).as("qv"),
            // exact integer norm driver-side — same value as the
            // oracle's grouped DECIMAL sum
            lit(qs.map(v => BigDecimal(v) * BigDecimal(v)).sum.bigDecimal)
              .cast(DecimalType(38, 0)).as("na"))
        }: _*)
        val dp = (0 until K).map(p =>
          element_at(col("q.qv"), p + 1).cast(dec19) * col(s"s$p").cast(dec19))
          .reduce(_ + _)
        val nb = (0 until K).map(p =>
          col(s"s$p").cast(dec19) * col(s"s$p").cast(dec19)).reduce(_ + _)
        val cands = proj.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("nid")
            +: (0 until K).map(p => col(s"s$p"))
            :+ explode(qlit).as("q"): _*)
          .select(col("q.qid").as("qid"), col("nid"),
            (dp.cast("double")
              / (sqrt(col("q.na").cast("double")) * sqrt(nb.cast("double"))))
              .as("cos"))
        val truth = Similarity.cosineTopK(emb, col("vec_id") < 10, 5)
          .select(col("qid"), col("nid"))
        Similarity.recallTail(truth, cands)
      }))
}
