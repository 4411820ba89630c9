package graft.operators

import graft.QueryDef
import graft.functions.TextFunctions._
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's flagship retrieval pipeline `simple_rag`
  * (`/root/reference/utils.py:326-330`): tokenize the query once
  * driver-side, substring-score every record, deterministic top-k.
  *
  * Spark shape: clean + score are pure expression trees over the scan
  * (projection-pruned, codegen'd); `orderBy(...).limit(k)` plans as
  * TakeOrderedAndProject — per-partition heaps then a driver merge of k
  * rows, no global sort. That plan is scale-invariant: at 100 TB it is
  * one scan + k·partitions rows of driver traffic.
  */
object SimpleRag {

  /** simple_rag over any (id, text) relation. Returns the *cleaned* text
    * (reference quirk Q13) with the original id and the score. Ties are
    * broken by ascending id — reproduces Python's stable sort (Q5).
    */
  def topK(records: DataFrame, idCol: String, textCol: String,
           query: String, k: Int): DataFrame = {
    val keywords = getKeywords(cleanString(query))
    val cleaned: Column = cleanText(col(textCol))
    records
      .select(col(idCol), cleaned.as("cleaned"))
      .withColumn("score", keywordScore(col("cleaned"), keywords).cast("long"))
      .orderBy(desc("score"), asc(idCol))
      .limit(k)
  }

  /** Fixed corpus query used by the harness entry (documents table). */
  val harnessQuery = "the spark shuffle and join of a window merge"
  val harnessK = 25

  /** Each document's tokens `tk` (cleaned text split on spaces) and its
    * length `dl`, the count of non-empty tokens. */
  private[operators] def withDocLen(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(cleanText(col("text")), " ").as("tk"))
      .withColumn("dl",
        size(filter(col("tk"), x => x =!= lit(""))).cast("long"))

  /** One row per (document of [[withDocLen]], query term):
    * `(doc_id, dl, term, tf)`, zero counts included. */
  private[operators] def termFreqsDl(withDl: DataFrame, terms: Seq[String]): DataFrame =
    withDl
      .select(col("doc_id"), col("dl"), explode(array(terms.map { t =>
        struct(lit(t).as("term"),
          size(filter(col("tk"), x => x === lit(t))).cast("long").as("tf"))
      }: _*)).as("s"))
      .select(col("doc_id"), col("dl"),
        col("s.term").as("term"), col("s.tf").as("tf"))

  /** The positive query-term counts `(doc_id, term, tf)` of `docs`. */
  private def termFreqs(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs
      .select(col("doc_id"), split(cleanText(col("text")), " ").as("tk"))
      .select(col("doc_id"), explode(array(terms.map { t =>
        struct(lit(t).as("term"),
          size(filter(col("tk"), x => x === lit(t))).cast("long").as("tf"))
      }: _*)).as("s"))
      .select(col("doc_id"), col("s.term").as("term"), col("s.tf").as("tf"))
      .filter(col("tf") > 0)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "rag_topk_documents", {
        val kws = getKeywords(cleanString(harnessQuery))
        Some(s"""
          SELECT doc_id, cleaned, score FROM (
            SELECT doc_id, ${sqlClean("text")} AS cleaned,
                   CAST(${sqlKeywordScore(sqlClean("text"), kws)} AS BIGINT) AS score
            FROM documents)
          ORDER BY score DESC, doc_id
          LIMIT $harnessK
        """.trim)
      },
      (s, d) => topK(documents(s, d), "doc_id", "text", harnessQuery, harnessK)),

    // Ranked retrieval upgrade: TF-IDF top-k over cleaned tokens. The
    // idf is the RAW ratio N/df (no logarithm): ln() is not guaranteed
    // to round identically across engines, while tf·N is an exact
    // integer in double and IEEE division is deterministic — so each
    // term's score is bit-identical in Spark and DuckDB, and the
    // per-doc sum goes through DECIMAL (order-independent). Plan shape:
    // one token explode + two hash aggregations + a broadcast join of
    // the |Q|-row df table + TakeOrderedAndProject — at 100 TB the only
    // wide exchange is the per-(doc,term) tf aggregation.
    QueryDef(
      "rag_tfidf_topk", {
        val terms = getKeywords(cleanString(harnessQuery)).distinct
        val vals = terms.map(t => s"('${t.replace("'", "''")}')").mkString(", ")
        Some(s"""
          WITH toks AS (SELECT doc_id, string_split(${sqlClean("text")}, ' ') AS tk FROM documents),
          tf AS (
            SELECT doc_id, term, len(list_filter(tk, x -> x = term)) AS tf
            FROM toks, (VALUES $vals) t(term)),
          pos AS (SELECT doc_id, term, tf FROM tf WHERE tf > 0),
          dfs AS (SELECT term, COUNT(*) AS df FROM pos GROUP BY 1),
          n AS (SELECT COUNT(*) AS n FROM documents)
          SELECT doc_id,
                 CAST(SUM(CAST(CAST(pos.tf AS DOUBLE) * n.n / dfs.df AS DECIMAL(18,6))) AS DOUBLE) AS score
          FROM pos JOIN dfs USING (term) CROSS JOIN n
          GROUP BY doc_id
          ORDER BY score DESC, doc_id
          LIMIT 10
        """.trim)
      },
      (s, d) => {
        val docs = documents(s, d)
        val terms = getKeywords(cleanString(harnessQuery)).distinct
        // corpus size rides the plan as a broadcast 1-row aggregate
        // (mirroring the oracle's `n AS (SELECT COUNT(*) ...)` CTE) —
        // an eager docs.count() here would run a full extra scan job
        // every time the query is built.
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val tf = termFreqs(docs, terms)
        val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfs), "term")
          .crossJoin(broadcast(n))
          .groupBy(col("doc_id"))
          .agg(graft.det.dsum(
            col("tf").cast("double") * col("n_docs") / col("df"), scale = 6).as("score"))
          .orderBy(desc("score"), asc("doc_id"))
          .limit(10)
      }),

    // Inverted index construction — the retrieval artifact itself as a
    // table: per token, document frequency, total term frequency, and
    // the head of the (doc_id-ordered) posting list. One explode + one
    // distinct + windowed head-capping; at scale the index IS this
    // table partitioned by token, and writing it bucketed-by-token
    // makes query-time lookups shuffle-free. Postings are capped at 20
    // ids per token because this corpus's 30-word vocabulary puts
    // nearly every doc in every posting list (natural corpora are the
    // opposite: long-tail tokens, short lists).
    QueryDef(
      "rag_inverted_index",
      Some("""
        WITH p AS (
          SELECT DISTINCT tok, doc_id
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        tf AS (
          SELECT tok, COUNT(*) AS tf_total
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok),
        ranked AS (
          SELECT tok, doc_id,
                 row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY tok) AS df
          FROM p)
        SELECT r.tok, CAST(r.df AS BIGINT) AS df,
               CAST(t.tf_total AS BIGINT) AS tf_total,
               string_agg(CAST(r.doc_id AS VARCHAR), ',' ORDER BY r.doc_id) AS head_postings
        FROM ranked r JOIN tf t ON r.tok = t.tok
        WHERE r.rn <= 20
        GROUP BY r.tok, r.df, t.tf_total
        ORDER BY r.tok
      """.trim),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf_total"))
        val p = toks.distinct()
        val w = Window.partitionBy(col("tok")).orderBy(col("doc_id"))
        val wc = Window.partitionBy(col("tok"))
        p.withColumn("rn", row_number().over(w))
          .withColumn("df", count(lit(1)).over(wc))
          .filter(col("rn") <= 20)
          .groupBy(col("tok"), col("df"))
          .agg(array_join(
            transform(array_sort(collect_list(col("doc_id"))), x => x.cast("string")),
            ",").as("head_postings"))
          .join(tf, "tok")
          .select(col("tok"), col("df"), col("tf_total"), col("head_postings"))
          .orderBy(col("tok"))
      }),

    // BM25-style ranked retrieval: the tf-saturation core
    //   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),  k1=1.2, b=0.75
    // with the RAW ratio N/df as idf — same bit-portability deviation as
    // rag_tfidf_topk above: ln() is not guaranteed to round identically
    // across engines, while the saturation term is pure IEEE ×/÷ over
    // exactly-representable integers (tf, dl, N, df) and shared literals
    // (oracle literals are CAST(... AS DOUBLE) so DuckDB doesn't route
    // them through DECIMAL math). Per-term scores snap to DECIMAL(18,6)
    // before the per-doc sum, so addition order can't matter. Plan shape
    // is rag_tfidf plus one extra broadcast row (corpus length stats):
    // explode → two hash aggs → broadcast joins → TakeOrderedAndProject.
    QueryDef(
      "rag_bm25_topk", {
        val terms = getKeywords(cleanString(harnessQuery)).distinct
        val vals = terms.map(t => s"('${t.replace("'", "''")}')").mkString(", ")
        Some(s"""
          WITH d AS (
            SELECT doc_id, tk, CAST(len(list_filter(tk, x -> x <> '')) AS BIGINT) AS dl
            FROM (SELECT doc_id, string_split(${sqlClean("text")}, ' ') AS tk FROM documents)),
          tf AS (
            SELECT doc_id, dl, term, CAST(len(list_filter(tk, x -> x = term)) AS BIGINT) AS tf
            FROM d, (VALUES $vals) t(term)),
          pos AS (SELECT doc_id, dl, term, tf FROM tf WHERE tf > 0),
          dfs AS (SELECT term, COUNT(*) AS df FROM pos GROUP BY 1),
          stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM d)
          SELECT doc_id,
                 CAST(SUM(CAST(
                   (pos.tf * CAST(2.2 AS DOUBLE)
                     / (pos.tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + (CAST(0.75 AS DOUBLE) * pos.dl) / (stats.tot / stats.n))))
                   * (stats.n / dfs.df)
                 AS DECIMAL(18,6))) AS DOUBLE) AS score
          FROM pos JOIN dfs USING (term) CROSS JOIN stats
          GROUP BY doc_id
          ORDER BY score DESC, doc_id
          LIMIT 10
        """.trim)
      },
      (s, d) => {
        val docs = documents(s, d)
        val terms = getKeywords(cleanString(harnessQuery)).distinct
        val withDl = withDocLen(docs)
        val stats = withDl.agg(
          count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_toks"))
        val tf = termFreqsDl(withDl, terms)
          .filter(col("tf") > 0)
        val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfs), "term")
          .crossJoin(broadcast(stats))
          .groupBy(col("doc_id"))
          .agg(graft.det.dsum(
            (col("tf") * lit(2.2)
              / (col("tf") + lit(1.2)
                 * (lit(0.25)
                    + (lit(0.75) * col("dl")) / (col("tot_toks") / col("n_docs")))))
            * (col("n_docs") / col("df")), scale = 6).as("score"))
          .orderBy(desc("score"), asc("doc_id"))
          .limit(10)
      }),

    // Positional phrase search: exact occurrence counts of the 2-token
    // phrase "table hash" per document. When documents are rows, the
    // positional-index intersection reduces to a row-local adjacent
    // scan — zero shuffles, the filter rides the scan projection (the
    // join form only pays off once the inverted index above is the
    // stored artifact). Single-pass UDF for the same CollapseProject
    // reason as the shingle builder: the expression form re-splits the
    // text per position.
    QueryDef(
      "rag_phrase_search",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        c AS (
          SELECT doc_id,
                 CAST(len(list_filter(range(1, len(tk)),
                      i -> tk[i] = 'table' AND tk[i+1] = 'hash')) AS BIGINT) AS n_occ
          FROM toks)
        SELECT doc_id, n_occ FROM c WHERE n_occ > 0
        ORDER BY doc_id
      """.trim),
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"),
            phraseCountUdf(col("text"), lit("table"), lit("hash")).as("n_occ"))
          .filter(col("n_occ") > 0)
          .orderBy(col("doc_id"))),

    // Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    // (Cormack et al., SIGIR'09): fuse the keyword-hit, TF-IDF and
    // BM25 rankers by RRF(d) = Σ_r 1/(60 + rank_r(d)) over each
    // ranker's top-20. Rank positions, not scores, so incomparable
    // score scales fuse cleanly — and the arithmetic is three
    // IEEE-exact divisions summed in a fixed written order, fully
    // bit-portable (no decimal routing even needed). Each ranker's
    // candidate list is a TakeOrderedAndProject top-20; the rank
    // window then runs over 20 rows by construction, so the
    // "global" row_number is bounded, never corpus-sized. The
    // fusion itself is three broadcast joins of 20-row tables.
    QueryDef(
      "rag_rrf_fusion", {
        val kws = getKeywords(cleanString(harnessQuery))
        val terms = kws.distinct
        val vals = terms.map(t => s"('${t.replace("'", "''")}')").mkString(", ")
        Some(s"""
          WITH kw20 AS (
            SELECT doc_id, score FROM (
              SELECT doc_id,
                     CAST(${sqlKeywordScore(sqlClean("text"), kws)} AS BIGINT) AS score
              FROM documents)
            ORDER BY score DESC, doc_id LIMIT 20),
          kwr AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM kw20),
          toks AS (SELECT doc_id, string_split(${sqlClean("text")}, ' ') AS tk FROM documents),
          tfm AS (
            SELECT doc_id, term, len(list_filter(tk, x -> x = term)) AS tf
            FROM toks, (VALUES $vals) t(term)),
          pos AS (SELECT doc_id, term, tf FROM tfm WHERE tf > 0),
          dfs AS (SELECT term, COUNT(*) AS df FROM pos GROUP BY 1),
          n AS (SELECT COUNT(*) AS n FROM documents),
          ti20 AS (
            SELECT doc_id,
                   CAST(SUM(CAST(CAST(pos.tf AS DOUBLE) * n.n / dfs.df AS DECIMAL(18,6))) AS DOUBLE) AS score
            FROM pos JOIN dfs USING (term) CROSS JOIN n
            GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 20),
          tir AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM ti20),
          bd AS (
            SELECT doc_id, tk, CAST(len(list_filter(tk, x -> x <> '')) AS BIGINT) AS dl
            FROM toks),
          btf AS (
            SELECT doc_id, dl, term, CAST(len(list_filter(tk, x -> x = term)) AS BIGINT) AS tf
            FROM bd, (VALUES $vals) t(term)),
          bpos AS (SELECT doc_id, dl, term, tf FROM btf WHERE tf > 0),
          bdfs AS (SELECT term, COUNT(*) AS df FROM bpos GROUP BY 1),
          bstats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM bd),
          bm20 AS (
            SELECT doc_id,
                   CAST(SUM(CAST(
                     (bpos.tf * CAST(2.2 AS DOUBLE)
                       / (bpos.tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + (CAST(0.75 AS DOUBLE) * bpos.dl) / (bstats.tot / bstats.n))))
                     * (bstats.n / bdfs.df)
                   AS DECIMAL(18,6))) AS DOUBLE) AS score
            FROM bpos JOIN bdfs USING (term) CROSS JOIN bstats
            GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 20),
          bmr AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM bm20),
          cand AS (
            SELECT doc_id FROM kwr UNION
            SELECT doc_id FROM tir UNION
            SELECT doc_id FROM bmr)
          SELECT c.doc_id,
                 COALESCE(1.0 / (60 + k.rnk), CAST(0 AS DOUBLE))
                   + COALESCE(1.0 / (60 + t.rnk), CAST(0 AS DOUBLE))
                   + COALESCE(1.0 / (60 + b.rnk), CAST(0 AS DOUBLE)) AS rrf,
                 CAST(k.rnk AS BIGINT) AS kw_rank,
                 CAST(t.rnk AS BIGINT) AS tfidf_rank,
                 CAST(b.rnk AS BIGINT) AS bm25_rank
          FROM cand c
          LEFT JOIN kwr k ON c.doc_id = k.doc_id
          LEFT JOIN tir t ON c.doc_id = t.doc_id
          LEFT JOIN bmr b ON c.doc_id = b.doc_id
          ORDER BY rrf DESC, c.doc_id LIMIT 10
        """.trim)
      },
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d)
        val kws = getKeywords(cleanString(harnessQuery))
        val terms = kws.distinct
        // rank window over an already-top-20 set: 20 rows, bounded
        def ranked(top20: DataFrame): DataFrame =
          top20.withColumn("rnk",
            row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
            .select(col("doc_id"), col("rnk"))
        val kwr = ranked(docs
          .select(col("doc_id"),
            keywordScore(cleanText(col("text")), kws).cast("long").as("score"))
          .orderBy(desc("score"), asc("doc_id")).limit(20))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val tf = termFreqs(docs, terms)
        val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val tir = ranked(tf.join(broadcast(dfs), "term")
          .crossJoin(broadcast(n))
          .groupBy(col("doc_id"))
          .agg(graft.det.dsum(
            col("tf").cast("double") * col("n_docs") / col("df"), scale = 6).as("score"))
          .orderBy(desc("score"), asc("doc_id")).limit(20))
        val withDl = withDocLen(docs)
        val bstats = withDl.agg(
          count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_toks"))
        val btf = termFreqsDl(withDl, terms)
          .filter(col("tf") > 0)
        val bdfs = btf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val bmr = ranked(btf.join(broadcast(bdfs), "term")
          .crossJoin(broadcast(bstats))
          .groupBy(col("doc_id"))
          .agg(graft.det.dsum(
            (col("tf") * lit(2.2)
              / (col("tf") + lit(1.2)
                 * (lit(0.25)
                    + (lit(0.75) * col("dl")) / (col("tot_toks") / col("n_docs")))))
            * (col("n_docs") / col("df")), scale = 6).as("score"))
          .orderBy(desc("score"), asc("doc_id")).limit(20))
        val cand = kwr.select(col("doc_id"))
          .union(tir.select(col("doc_id")))
          .union(bmr.select(col("doc_id"))).distinct()
        cand
          .join(broadcast(kwr.select(col("doc_id"), col("rnk").as("kw_rank"))), Seq("doc_id"), "left")
          .join(broadcast(tir.select(col("doc_id"), col("rnk").as("tfidf_rank"))), Seq("doc_id"), "left")
          .join(broadcast(bmr.select(col("doc_id"), col("rnk").as("bm25_rank"))), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(lit(1.0) / (lit(60) + col("kw_rank")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("tfidf_rank")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0))).as("rrf"),
            col("kw_rank").cast("long").as("kw_rank"),
            col("tfidf_rank").cast("long").as("tfidf_rank"),
            col("bm25_rank").cast("long").as("bm25_rank"))
          .orderBy(desc("rrf"), asc("doc_id"))
          .limit(10)
      })
  )

  /** Adjacent-bigram occurrence counter, single-pass (mirrors the
    * oracle's `list_filter(range(...), i -> tk[i]=a AND tk[i+1]=b)`). */
  private val phraseCountUdf = udf { (text: String, a: String, b: String) =>
    if (text == null) 0L
    else {
      val tk = text.split(" ", -1)
      var n = 0L
      var i = 0
      while (i < tk.length - 1) {
        if (tk(i) == a && tk(i + 1) == b) n += 1
        i += 1
      }
      n
    }
  }
}
