package graft.operators

import graft.QueryDef
import graft.det
import graft.functions.TextFunctions._
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Query-likelihood retrieval with Dirichlet smoothing (Ponte & Croft
  * SIGIR'98; Zhai & Lafferty SIGIR'01) — the language-modeling
  * counterpart to rag_bm25_topk: score(d) = Σ_t ln((tf_td + μ·p_t) /
  * (|d| + μ)), p_t the collection unigram probability, μ = 300. The
  * retrieval family's third classic scorer (boolean/tf-idf, BM25, QL)
  * — QL is what most production first-stage rankers actually
  * implement because the smoothing handles short docs gracefully.
  *
  * Query terms with zero collection frequency are dropped by the same
  * integer predicate in both engines (their smoothed probability is
  * −∞ for every doc — pure rank noise).
  *
  * Determinism: tf/cf/dl are exact integers; each term's log is one
  * fixed-order double expression snapped to the 1e-9 grid; the
  * per-doc fold runs in DECIMAL(28,12).
  *
  * Scale: same dataflow as rag_bm25_topk — tokenize once per doc, a
  * |terms|-wide expression fan-out (no shuffle), collection stats as
  * a 1-row broadcast, TakeOrderedAndProject for the top-k.
  */
object Qlm {

  private val mu = "300.0"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "rag_qlm_topk", {
        val terms = getKeywords(cleanString(SimpleRag.harnessQuery)).distinct
        val vals = terms.map(t => s"('${t.replace("'", "''")}')").mkString(", ")
        Some(s"""
          WITH d AS (
            SELECT doc_id, tk,
                   CAST(len(list_filter(tk, x -> x <> '')) AS BIGINT) AS dl
            FROM (SELECT doc_id, string_split(${sqlClean("text")}, ' ') AS tk
                  FROM documents)),
          tf AS (
            SELECT doc_id, dl, term,
                   CAST(len(list_filter(tk, x -> x = term)) AS BIGINT) AS tf
            FROM d, (VALUES $vals) t(term)),
          cf AS (
            SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
          stats AS (SELECT SUM(dl) AS tot FROM d),
          terms_kept AS (
            SELECT term, cf FROM cf WHERE cf > 0)
          SELECT doc_id,
                 CAST(SUM(CAST(${det.sqlSnap9(
          s"ln((tf.tf + CAST($mu AS DOUBLE) * (k.cf * 1.0 / stats.tot))" +
            s" / (tf.dl + CAST($mu AS DOUBLE)))")} AS DECIMAL(28,12)))
                   AS DOUBLE) AS score
          FROM tf JOIN terms_kept k USING (term) CROSS JOIN stats
          GROUP BY doc_id
          ORDER BY score DESC, doc_id
          LIMIT 10
        """.trim)
      },
      (s, d) => {
        val terms = getKeywords(cleanString(SimpleRag.harnessQuery)).distinct
        val withDl = SimpleRag.withDocLen(documents(s, d))
        val tf = SimpleRag.termFreqsDl(withDl, terms)
        val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
          .filter(col("cf") > 0)
        val stats = withDl.agg(sum(col("dl")).as("tot"))
        tf.join(broadcast(cf), "term")
          .crossJoin(broadcast(stats))
          .groupBy(col("doc_id"))
          .agg(sum(det.snap9(
            log((col("tf") + lit(mu.toDouble) * (col("cf") * lit(1.0) / col("tot")))
              / (col("dl") + lit(mu.toDouble))))
            .cast(DecimalType(28, 12))).cast("double").as("score"))
          .orderBy(desc("score"), asc("doc_id"))
          .limit(10)
      }))
}
