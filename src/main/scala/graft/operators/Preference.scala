package graft.operators

import graft.QueryDef
import graft.det
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference-pair construction for DPO/RLHF-style training (Rafailov
  * et al. 2023): within each source, pair the k best-scored documents
  * with the k worst (best↔worst, 2nd-best↔2nd-worst, …) under the
  * shared quality-model logit ([[Pipeline.modelScoredWithLabel]] —
  * the same score the curation/eval family is built on), keep pairs
  * whose margin clears a threshold. This is the standard way a
  * pipeline mints (chosen, rejected) tuples from a scalar judge
  * without human labels.
  *
  * Determinism: scores are the bit-equal cross-engine logit
  * established by pl_quality_model; ranks tiebreak on doc_id both
  * ways; the margin is one subtraction, snap9'd.
  *
  * Scale: two rank windows per source + one equi-join on (source,
  * rank); the join carries 2k rows per source. The worst-k side plans
  * as Spark's `WindowGroupLimit` (Partial before the shuffle, Final
  * after), so it ships ≤ k rows per source per partition. The best-k
  * side does not: its `count(*) OVER (PARTITION BY source)` (the
  * 2·rank ≤ n guard that keeps the halves disjoint) needs every row,
  * so that side shuffles and sorts the full per-source partition.
  */
object Preference {

  private val K = 5
  private val margin = 0.5

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "pl_preference_pairs",
      Some(s"""
        WITH ${Pipeline.qmFeatsSql},
        scored AS (
          SELECT doc_id, source, ${Pipeline.qmScoreSql} AS score
          FROM feats),
        rk AS (
          SELECT doc_id, source, score,
                 row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rt,
                 row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC) AS rb,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM scored)
        SELECT t.source,
               CAST(t.rt AS BIGINT) AS pair_rank,
               CAST(t.doc_id AS BIGINT) AS chosen_doc,
               CAST(b.doc_id AS BIGINT) AS rejected_doc,
               ${det.sqlSnap9("t.score - b.score")} AS score_margin
        FROM rk t JOIN rk b
          ON b.source = t.source AND b.rb = t.rt
        WHERE t.rt <= $K AND t.rt * 2 <= t.n
          AND t.score - b.score > $margin
        ORDER BY t.source, pair_rank
      """.trim),
      (s, d) => {
        import s.implicits._
        val scored = Pipeline.modelScoredWithLabel(s, d)
          .select($"doc_id", $"source", $"score")
        val ws = Window.partitionBy($"source")
        val top = scored
          .withColumn("rt", row_number().over(ws.orderBy($"score".desc, $"doc_id")))
          .withColumn("n", count(lit(1)).over(ws))
          .filter($"rt" <= K && $"rt" * 2 <= $"n")
          .select($"source", $"rt", $"doc_id".as("chosen_doc"),
            $"score".as("t_score"))
        val bottom = scored
          .withColumn("rb", row_number().over(
            ws.orderBy($"score".asc, $"doc_id".desc)))
          .filter($"rb" <= K)
          .select($"source".as("b_source"), $"rb",
            $"doc_id".as("rejected_doc"), $"score".as("b_score"))
        top.join(bottom, $"b_source" === $"source" && $"rb" === $"rt")
          .filter($"t_score" - $"b_score" > margin)
          .select($"source", $"rt".cast("long").as("pair_rank"),
            $"chosen_doc".cast("long"), $"rejected_doc".cast("long"),
            det.snap9($"t_score" - $"b_score").as("score_margin"))
          .orderBy($"source", $"pair_rank")
      }))
}
