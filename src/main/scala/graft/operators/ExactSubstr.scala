package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ExactSubstr deduplication proper (Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" §4.1): for every
  * document, the tokens covered by a >= 8-token span that appears
  * VERBATIM in some other document of the corpus — the train↔train
  * counterpart of `pl_decontam_spans`' eval↔train audit, and the exact
  * complement of the dd_ family's fingerprint approximations
  * (MinHash/SimHash bound set overlap; CDC chunks hash content blocks;
  * this one certifies literal shared substrings and their exact token
  * footprint, the quantity the paper's dedup pass deletes).
  *
  * Same anchored-diagonal device as [[Decontam]]: positioned 8-gram
  * anchors self-join on the gram string (ordered pairs a < b — each
  * unordered doc pair is processed once), consecutive matches of one
  * pair on one diagonal are a true maximal common substring, and each
  * pair-span covers tokens in BOTH documents — span [sa, ea] of doc a
  * maps to [sa + diag, ea + diag] of doc b, so both projections feed
  * the per-doc interval merge.
  *
  * Scale shape: the self-join is hash-partitioned on the gram string,
  * never all-pairs; its fan-out is sum over grams of freq², which is
  * the honest cost of exactness (Lee et al. pay it inside one giant
  * suffix array instead). On THIS corpus max gram frequency is 4. On a
  * web-scale corpus the boilerplate-gram head needs the same defenses
  * the dd_ family documents: drop grams with freq above a cap (they
  * only seed spans also seeded by their rarer neighbors unless the
  * WHOLE span is boilerplate) or pre-aggregate per gram — plus AQE's
  * skew splitter for the remainder. Windows partition by (pair,
  * diagonal) and by doc — never global. Output rows only for docs
  * that actually share spans; all quantities exact integers.
  */
object ExactSubstr {

  import Decontam.{K, gram8Udf, mergeIntervals}

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dd_exact_substr",
      Some(s"""
        WITH ${Decontam.sqlGrams},
        m AS (
          SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db,
                 b.pos - a.pos AS diag
          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        runs AS (
          SELECT da, db, diag, pa,
                 pa - ROW_NUMBER() OVER (
                   PARTITION BY da, db, diag ORDER BY pa) AS rid
          FROM m),
        spans_pair AS (
          SELECT da, db, diag, MIN(pa) AS sa, MAX(pa) + ${K - 1} AS ea
          FROM runs GROUP BY da, db, diag, rid),
        spans AS (
          SELECT DISTINCT e_doc, s, e FROM (
            SELECT da AS e_doc, sa AS s, ea AS e FROM spans_pair
            UNION ALL
            SELECT db, sa + diag, ea + diag FROM spans_pair)),
        ${Decontam.sqlMergeSpans},
        cov AS (
          SELECT e_doc, COUNT(*) AS n_regions, SUM(e - s + 1) AS dup_tokens
          FROM merged GROUP BY e_doc),
        base AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
          FROM documents)
        SELECT b.doc_id,
               CAST(b.n_tokens AS BIGINT) AS n_tokens,
               CAST(c.dup_tokens AS BIGINT) AS dup_tokens,
               CAST(c.n_regions AS BIGINT) AS n_regions,
               c.dup_tokens = b.n_tokens AS fully_dup
        FROM base b JOIN cov c ON c.e_doc = b.doc_id
        ORDER BY b.doc_id
      """.trim),
      (s, d) => {
        val grams = documents(s, d)
          .select(col("doc_id"), explode(gram8Udf(col("text"))).as("pg"))
          .select(col("doc_id"), col("pg._1").as("pos"), col("pg._2").as("gram"))
        val a = grams.select(col("doc_id").as("da"), col("pos").as("pa"), col("gram"))
        val b = grams.select(col("doc_id").as("db"), col("pos").as("pb"), col("gram"))
        val m = a.join(b, Seq("gram")).filter(col("da") < col("db"))
          .select(col("da"), col("pa"), col("db"),
            (col("pb") - col("pa")).as("diag"))
        val wRun = Window.partitionBy(col("da"), col("db"), col("diag"))
          .orderBy(col("pa"))
        val spansPair = m
          .withColumn("rid", col("pa") - row_number().over(wRun))
          .groupBy(col("da"), col("db"), col("diag"), col("rid"))
          .agg(min(col("pa")).as("sa"), (max(col("pa")) + lit(K - 1)).as("ea"))
        // each pair-span covers tokens in BOTH docs; project both sides
        val spans = spansPair
          .select(col("da").as("e_doc"), col("sa").as("s"), col("ea").as("e"))
          .unionByName(spansPair.select(col("db").as("e_doc"),
            (col("sa") + col("diag")).as("s"), (col("ea") + col("diag")).as("e")))
          .distinct()
        val cov = mergeIntervals(spans).groupBy(col("e_doc"))
          .agg(count(lit(1)).as("n_regions"),
            sum(col("e") - col("s") + 1).as("dup_tokens"))
          .withColumnRenamed("e_doc", "doc_id")
        val base = documents(s, d)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        base.join(cov, Seq("doc_id"))
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("dup_tokens").cast("long").as("dup_tokens"),
            col("n_regions").cast("long").as("n_regions"),
            (col("dup_tokens") === col("n_tokens")).as("fully_dup"))
          .orderBy(col("doc_id"))
      }))
}
