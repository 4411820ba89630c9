package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Held-out cross-entropy of an add-one-smoothed bigram language
  * model — the evaluation loop behind every "does more/cleaner data
  * help" ablation, shrunk to the smallest model that still has the
  * shape: train counts on 90% of documents, score the held-out 10%.
  *
  * Per test bigram (c → w): p = (cnt(c,w) + 1) / (cnt(c) + V), with V
  * the training next-token vocabulary — so unseen contexts cost
  * ⌈log2 V⌉-ish bits and the metric is defined everywhere. Bits are
  * integerized as floor(log2((cnt(c)+V)/(cnt(c,w)+1))) — a ratio of
  * exact BIGINTs through one double division and one floor(log2), the
  * proven-portable ev_entropy_rate recipe — and the reported
  * cross-entropy is a ratio of two exact integer sums.
  *
  * Scale: bigrams explode row-local; the model is two vocabulary-sized
  * count tables hash-joined to the test bigrams on their natural keys;
  * V is a 1-row broadcast. Nothing driver-side.
  */
object Lm {

  /** The held-out bigram split both LM queries score: every document's
    * adjacent whitespace-token pairs `bg(doc_id, prev, next)` and the
    * train-side (doc_id % 10 <> 0) counts `cw(prev, next, c)`, each
    * checkpointed (both feed several consumers). */
  private[operators] def heldOutBigrams(docs: DataFrame): (DataFrame, DataFrame) = {
    val bg = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("prev"),
          element_at(col("tk"), i + 2).as("next")))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.next").as("next"))
      .localCheckpoint()
    val cw = bg.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    (bg, cw)
  }

  /** SQL mirror of [[heldOutBigrams]]: `toks`, `bg` and `cw`. */
  private[operators] def sqlBigramSplit: String = """toks AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        bg AS (
          SELECT doc_id, tk[i] AS prev, tk[i + 1] AS next
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)),
        cw AS (
          SELECT prev, next, COUNT(*) AS c
          FROM bg WHERE doc_id % 10 <> 0 GROUP BY prev, next)"""

  /** The cross-entropy readout over scored held-out bigrams
    * `(bits, seen_ctx, seen_bg)`: counts, total bits and bits per token. */
  private[operators] def xentSummary(scored: DataFrame): DataFrame =
    scored.agg(count(lit(1)).as("n_bigrams"),
      sum(col("seen_ctx")).cast("long").as("n_seen_ctx"),
      sum(col("seen_bg")).cast("long").as("n_seen_bigram"),
      sum(col("bits")).cast("long").as("total_bits"),
      (sum(col("bits")).cast("double") / count(lit(1))).as("bits_per_token"))

  /** SQL mirror of [[xentSummary]] over a `scored` CTE. */
  private[operators] def sqlXentSummary: String = """SELECT CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(seen_ctx) AS BIGINT) AS n_seen_ctx,
               CAST(SUM(seen_bg) AS BIGINT) AS n_seen_bigram,
               CAST(SUM(bits) AS BIGINT) AS total_bits,
               CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS bits_per_token
        FROM scored"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ta_bigram_xent",
      Some(s"""
        WITH $sqlBigramSplit,
        cc AS (SELECT prev, SUM(c) AS ctx FROM cw GROUP BY prev),
        v AS (SELECT COUNT(DISTINCT next) AS v FROM cw),
        scored AS (
          SELECT CAST(floor(log2(
                   CAST(COALESCE(cc.ctx, 0) + v.v AS DOUBLE)
                     / (COALESCE(cw.c, 0) + 1))) AS BIGINT) AS bits,
                 CASE WHEN cc.prev IS NOT NULL THEN 1 ELSE 0 END AS seen_ctx,
                 CASE WHEN cw.c IS NOT NULL THEN 1 ELSE 0 END AS seen_bg
          FROM bg b
          LEFT JOIN cw ON cw.prev = b.prev AND cw.next = b.next
          LEFT JOIN cc ON cc.prev = b.prev
          CROSS JOIN v
          WHERE b.doc_id % 10 = 0)
        $sqlXentSummary
      """.trim),
      (s, d) => {
        import s.implicits._
        val (bg, cw) = heldOutBigrams(documents(s, d))
        val cc = cw.groupBy($"prev").agg(sum($"c").as("ctx"))
        val v = cw.agg(countDistinct($"next").as("v"))
        bg.filter($"doc_id" % 10 === 0)
          .join(cw, Seq("prev", "next"), "left")
          .join(cc.withColumnRenamed("prev", "cprev"),
            $"cprev" === $"prev", "left")
          .crossJoin(broadcast(v))
          .select(
            floor(log2((coalesce($"ctx", lit(0)) + $"v").cast("double") /
              (coalesce($"c", lit(0)) + 1))).cast("long").as("bits"),
            when($"cprev".isNotNull, 1).otherwise(0).as("seen_ctx"),
            when($"c".isNotNull, 1).otherwise(0).as("seen_bg"))
          .transform(xentSummary)
      }),

    // Tokenizer fertility per (source, lang) — BPE tokens per
    // whitespace word under the 50-merge in-engine tokenizer
    // (ta_bpe_merges). Fertility is the number multilingual-corpus
    // teams watch per source: a vocabulary trained on one domain
    // over-segments every other (fertility ≫ 1 ⇒ that source pays
    // more compute per word and the mixture under-weights it in
    // effective tokens). Same trained-segmentation broadcast join as
    // ta_bpe_apply, rolled up to the datasheet grain instead of
    // per-document.
    QueryDef(
      "ta_bpe_fertility",
      Some(s"""
        WITH ${TextAnalysis.sqlBpeCtes(50)},
        seg AS (
          SELECT word,
                 CAST(len(string_split(trim(seq, chr(1)), chr(1) || chr(1))) AS BIGINT) AS n_sym
          FROM s50),
        tok AS (
          SELECT source, lang, unnest(string_split(text, ' ')) AS word
          FROM documents)
        SELECT t.source, t.lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(g.n_sym) AS BIGINT) AS n_bpe_tokens,
               (SUM(g.n_sym) * 1.0 / COUNT(*)) AS fertility
        FROM tok t JOIN seg g ON t.word = g.word
        GROUP BY t.source, t.lang
        ORDER BY t.source, t.lang
      """.trim),
      (s, d) => {
        import s.implicits._
        val seg = TextAnalysis.bpeTrainFull(TextAnalysis.bpeVocab(s, d), 50).segments
        val segDf = broadcast(seg.toDF("word", "n_sym")
          .select($"word", $"n_sym".cast("long").as("n_sym")))
        documents(s, d)
          .select($"source", $"lang", explode(split($"text", " ")).as("word"))
          .join(segDf, "word")
          .groupBy($"source", $"lang")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_sym").as("n_bpe_tokens"),
            (sum($"n_sym") * lit(1.0) / count(lit(1))).as("fertility"))
          .orderBy($"source", $"lang")
      }))
}
