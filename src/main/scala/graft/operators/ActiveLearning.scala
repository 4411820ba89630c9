package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Active-learning selection over the quality model: the k docs PER
  * SOURCE whose model score is nearest the decision boundary — the
  * uncertainty-sampling batch a labeling loop sends for human review
  * (label where the model is least sure, not where it is confident).
  *
  * Uncertainty is |logit|, not |p − 0.5|: the sigmoid is monotone, so
  * the ranking is identical and the exp never has to cross engines.
  * The per-key top-k is the row_number window shape that Spark plans
  * as `WindowGroupLimit` (Partial before the shuffle, Final after) —
  * each partition ships ≤ k rows per source, so the selection never
  * shuffles a whole source to one sort.
  * Score chain is the SAME projection the model/eval queries consume
  * ([[Pipeline.modelScoredWithLabel]] / [[Pipeline.qmScoreSql]]), so
  * the reviewed batch can't drift from the model it audits.
  */
object ActiveLearning {

  private val k = 20

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "pl_uncertainty_sample",
      Some(s"""
        WITH ${Pipeline.qmFeatsSql},
        scored AS (
          SELECT doc_id, source, n_tokens,
                 ${Pipeline.qmScoreSql} AS score
          FROM feats),
        r AS (
          SELECT doc_id, source, n_tokens, score,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY abs(score), doc_id) AS rk
          FROM scored)
        SELECT doc_id, source, n_tokens,
               floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
               CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= $k
        ORDER BY source, rk
      """.trim),
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"source")
          .orderBy(abs($"score").asc, $"doc_id".asc)
        Pipeline.modelScoredWithLabel(s, d)
          .select($"doc_id", $"source", $"n_tokens", $"score")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= k)
          .select($"doc_id", $"source", $"n_tokens",
            (floor($"score" * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("score"),
            $"rk".cast("long").as("rk"))
          .orderBy($"source", $"rk")
      }))
}
