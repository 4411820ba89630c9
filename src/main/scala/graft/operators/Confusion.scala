package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Language-ID confusion matrix — the model-quality rollup of
  * ta_ngram_lang_id's per-document guesses: counts per (true lang,
  * guessed lang) plus each true language's share of correct guesses.
  * This is the readout that decides whether a lang-ID gate is safe to
  * put in front of a mixture (a language the classifier confuses gets
  * silently filtered into the wrong bucket). Same trained-profile
  * dataflow (per-lang top-40 document-frequency trigrams, broadcast
  * profile join, argmax per doc), one extra integer aggregate.
  */
object Confusion {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ta_lang_confusion",
      Some(s"""
        WITH ${TextAnalysis.sqlLangScored},
        best AS (
          SELECT doc_id, lang, plang AS guess FROM (
            SELECT doc_id, lang, plang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY overlap DESC, plang) AS rn
            FROM scored)
          WHERE rn = 1),
        conf AS (
          SELECT lang, guess, COUNT(*) AS n FROM best GROUP BY lang, guess),
        tot AS (SELECT lang, SUM(n) AS t FROM conf GROUP BY lang)
        SELECT c.lang AS true_lang, c.guess, CAST(c.n AS BIGINT) AS n,
               CAST(c.n AS DOUBLE) / tot.t AS share,
               c.lang = c.guess AS is_correct
        FROM conf c JOIN tot ON tot.lang = c.lang
        ORDER BY true_lang, guess
      """.trim),
      (s, d) => {
        import s.implicits._
        val best = TextAnalysis.langGuesses(documents(s, d))
          .select($"doc_id", $"lang", $"plang".as("guess"))
        val conf = best.groupBy($"lang", $"guess").agg(count(lit(1)).as("n"))
        val tot = conf.groupBy($"lang").agg(sum($"n").as("t"))
        conf.join(tot, Seq("lang"))
          .select($"lang".as("true_lang"), $"guess", $"n".cast("long").as("n"),
            ($"n".cast("double") / $"t").as("share"),
            ($"lang" === $"guess").as("is_correct"))
          .orderBy($"true_lang", $"guess")
      }))
}
