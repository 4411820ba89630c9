package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring-level decontamination (Lee et al., "Deduplicating
  * Training Data Makes Language Models Better"): for every eval-slice
  * document, the MAXIMAL token spans that appear verbatim in a single
  * training document — the span-level exact-match audit that
  * `pl_contamination_ngrams`'s gram-fraction approximates. A fraction
  * audit says "many 8-grams collide"; this one says "tokens 12..70 of
  * this eval doc are literally inside train doc 457", which is the
  * evidence an actual decontamination pass deletes by — and
  * `pl_decontam_scrub` performs that deletion, reconstructing each
  * eval doc with the contaminated spans removed.
  *
  * Suffix arrays are the classic single-node tool here; the
  * distributed re-expression is the anchored-diagonal device: join
  * positioned 8-gram anchors across the split, then observe that two
  * matches of the SAME (eval doc, train doc) pair on the SAME diagonal
  * (t_pos − e_pos) at CONSECUTIVE eval positions overlap by 7 tokens —
  * so every maximal run of consecutive anchors on one diagonal is a
  * TRUE maximal common substring of length run + 7, no extension
  * probing needed. Runs fall out of one (e_doc, t_doc, diag) window
  * via the islands trick; per-doc coverage is a second interval-merge
  * window over the spans.
  *
  * Scale shape: the anchor join is the only corpus-sized shuffle, hash
  * partitioned on the gram string both sides — never all-pairs; the
  * eval side is the small slice, so AQE broadcast-flips it when it
  * fits. Unlike the fraction audit, train anchors keep their positions
  * (DISTINCT-collapsing would destroy the diagonals — that positional
  * fan-out is the honest price of exactness, and hot-gram skew lands
  * in AQE's skew-join splitter). Both windows are partitioned by doc
  * (pair), never global. All outputs are exact integers; the flag is
  * the integer predicate 5·covered > n_tokens (no float threshold).
  *
  * The scrub's cross-engine check is deliberately brutal: both engines
  * md5 the space-joined surviving tokens, so one off-by-one anywhere
  * in anchoring, diagonals, run-merging, interval-merging, or the
  * positional anti-join flips the hash. Positions are 0-based on the
  * Spark side and 1-based in the oracle — invisible, because every
  * reported quantity is a position difference or a reconstruction.
  */
object Decontam {

  private val evalMod = 41L
  private val evalRes = 7L
  private[operators] val K = 8

  /** Positioned distinct-position 8-gram anchors, single pass over the
    * token array (the expression formulation re-splits the string per
    * element — the shingleUdf lesson from Dedup.scala). */
  private[operators] val gram8Udf = udf { text: String =>
    if (text == null) null
    else {
      val tk = text.split(" ", -1)
      if (tk.length < K) null
      else {
        val out = new Array[(Int, String)](tk.length - K + 1)
        var i = 0
        while (i + K - 1 < tk.length) {
          val sb = new StringBuilder(tk(i))
          var j = 1
          while (j < K) { sb.append('_').append(tk(i + j)); j += 1 }
          out(i) = (i, sb.toString)
          i += 1
        }
        out
      }
    }
  }

  /** Distinct maximal exact-match spans (e_doc, s, e) of the eval
    * slice against the training side, token positions inclusive. */
  private def exactSpans(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(gram8Udf(col("text"))).as("pg"))
      .select(col("doc_id"), col("pg._1").as("pos"), col("pg._2").as("gram"))
    val ev = grams.filter(col("doc_id") % evalMod === evalRes)
      .select(col("doc_id").as("e_doc"), col("pos").as("e_pos"), col("gram"))
    val tr = grams.filter(col("doc_id") % evalMod =!= evalRes)
      .select(col("doc_id").as("t_doc"), col("pos").as("t_pos"), col("gram"))
    val m = ev.join(tr, "gram")
      .select(col("e_doc"), col("e_pos"), col("t_doc"),
        (col("t_pos") - col("e_pos")).as("diag"))
    val wRun = Window.partitionBy(col("e_doc"), col("t_doc"), col("diag"))
      .orderBy(col("e_pos"))
    m.withColumn("rid", col("e_pos") - row_number().over(wRun))
      .groupBy(col("e_doc"), col("t_doc"), col("diag"), col("rid"))
      .agg(min(col("e_pos")).as("s"), (max(col("e_pos")) + lit(K - 1)).as("e"))
      .select(col("e_doc"), col("s"), col("e")).distinct()
  }

  /** Merge overlapping/adjacent spans into disjoint per-doc coverage
    * intervals — the gaps-and-islands pass over (start, end) pairs. */
  private[operators] def mergeIntervals(spans: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("e_doc")).orderBy(col("s"), col("e"))
    spans
      .withColumn("pmax",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("pmax").isNull || col("s") > col("pmax") + 1, 1)
          .otherwise(0)).over(wOrd))
      .groupBy(col("e_doc"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .select(col("e_doc"), col("s"), col("e"))
  }

  /** Every document's token 8-grams, `g(doc_id, pos, gram)` with
    * 1-based positions (after `toks`). */
  private[operators] def sqlGrams: String = s"""toks AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        g AS (
          SELECT doc_id, i AS pos,
                 tk[i] || '_' || tk[i+1] || '_' || tk[i+2] || '_' || tk[i+3] || '_' ||
                 tk[i+4] || '_' || tk[i+5] || '_' || tk[i+6] || '_' || tk[i+7] AS gram
          FROM toks, UNNEST(range(1, len(tk) - ${K - 2})) AS r(i))"""

  /** The token spans of a `spans(e_doc, s, e)` CTE merged per document
    * where they overlap or touch: `merged(e_doc, island, s, e)` (after
    * `ord` and `isl`, gaps-and-islands over a running max). */
  private[operators] def sqlMergeSpans: String = """ord AS (
          SELECT e_doc, s, e,
                 MAX(e) OVER (PARTITION BY e_doc ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM spans),
        isl AS (
          SELECT e_doc, s, e,
                 SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY e_doc ORDER BY s, e) AS island
          FROM ord),
        merged AS (
          SELECT e_doc, island, MIN(s) AS s, MAX(e) AS e
          FROM isl GROUP BY e_doc, island)"""

  /** Shared oracle CTE chain ending in `merged(e_doc, s, e)` (plus the
    * intermediates), 1-based positions. */
  private val spanCtes = s"""
        $sqlGrams,
        ev AS (SELECT doc_id, pos, gram FROM g WHERE doc_id % $evalMod = $evalRes),
        tr AS (SELECT doc_id, pos, gram FROM g WHERE doc_id % $evalMod <> $evalRes),
        m AS (
          SELECT ev.doc_id AS e_doc, ev.pos AS e_pos, tr.doc_id AS t_doc,
                 tr.pos - ev.pos AS diag
          FROM ev JOIN tr ON ev.gram = tr.gram),
        runs AS (
          SELECT e_doc, t_doc, diag, e_pos,
                 e_pos - ROW_NUMBER() OVER (
                   PARTITION BY e_doc, t_doc, diag ORDER BY e_pos) AS rid
          FROM m),
        spans0 AS (
          SELECT e_doc, MIN(e_pos) AS s, MAX(e_pos) + ${K - 1} AS e
          FROM runs GROUP BY e_doc, t_doc, diag, rid),
        spans AS (SELECT DISTINCT e_doc, s, e FROM spans0),
        $sqlMergeSpans,
        base AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
          FROM documents WHERE doc_id % $evalMod = $evalRes)"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "pl_decontam_spans",
      Some(s"""
        WITH $spanCtes,
        cov AS (
          SELECT e_doc, COUNT(*) AS n_regions, SUM(e - s + 1) AS covered
          FROM merged GROUP BY e_doc),
        longest AS (
          SELECT e_doc, MAX(e - s + 1) AS longest_exact
          FROM spans GROUP BY e_doc)
        SELECT b.doc_id,
               CAST(b.n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
               CAST(COALESCE(c.n_regions, 0) AS BIGINT) AS n_regions,
               CAST(COALESCE(l.longest_exact, 0) AS BIGINT) AS longest_exact,
               5 * COALESCE(c.covered, 0) > b.n_tokens AS contaminated
        FROM base b
        LEFT JOIN cov c ON c.e_doc = b.doc_id
        LEFT JOIN longest l ON l.e_doc = b.doc_id
        ORDER BY b.doc_id
      """.trim),
      (s, d) => {
        val spans = exactSpans(documents(s, d))
        val cov = mergeIntervals(spans).groupBy(col("e_doc"))
          .agg(count(lit(1)).as("n_regions"),
            sum(col("e") - col("s") + 1).as("covered"))
          .withColumnRenamed("e_doc", "doc_id")
        val longest = spans.groupBy(col("e_doc"))
          .agg(max(col("e") - col("s") + 1).as("longest_exact"))
          .withColumnRenamed("e_doc", "doc_id")
        val base = documents(s, d).filter(col("doc_id") % evalMod === evalRes)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        base.join(cov, Seq("doc_id"), "left")
          .join(longest, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            coalesce(col("covered"), lit(0L)).cast("long").as("covered_tokens"),
            coalesce(col("n_regions"), lit(0L)).cast("long").as("n_regions"),
            coalesce(col("longest_exact"), lit(0L)).cast("long").as("longest_exact"),
            (lit(5) * coalesce(col("covered"), lit(0L)) > col("n_tokens"))
              .as("contaminated"))
          .orderBy(col("doc_id"))
      }),

    QueryDef(
      "pl_decontam_scrub",
      Some(s"""
        WITH $spanCtes,
        toksev AS (
          SELECT doc_id, i AS pos, tk[i] AS tok
          FROM (SELECT doc_id, string_split(text, ' ') AS tk
                FROM documents WHERE doc_id % $evalMod = $evalRes) q,
               UNNEST(range(1, len(tk) + 1)) AS r(i)),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok
          FROM toksev t LEFT JOIN merged m
            ON m.e_doc = t.doc_id AND t.pos BETWEEN m.s AND m.e
          WHERE m.e_doc IS NULL),
        clean AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
          FROM kept GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(b.n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(c.clean_md5, md5('')) AS clean_md5
        FROM base b LEFT JOIN clean c ON c.doc_id = b.doc_id
        ORDER BY b.doc_id
      """.trim),
      (s, d) => {
        val merged = mergeIntervals(exactSpans(documents(s, d)))
        val toksev = documents(s, d)
          .filter(col("doc_id") % evalMod === evalRes)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        // positional anti-join deletes every covered token; merged
        // intervals are disjoint, so each position hits at most one
        val kept = toksev.join(merged,
          toksev("doc_id") === merged("e_doc")
            && toksev("pos").between(merged("s"), merged("e")),
          "left_anti")
        // order-preserving reconstruction: collect_list is unordered,
        // array_sort on (pos, tok) structs restores document order
        // (pos is unique per doc), then the md5 of the re-joined text
        // must equal the oracle's byte for byte
        val clean = kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")), " ")).as("clean_md5"))
        val base = documents(s, d).filter(col("doc_id") % evalMod === evalRes)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        base.join(clean, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
            coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
          .orderBy(col("doc_id"))
      }))
}
