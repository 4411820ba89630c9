package graft.operators

import graft.QueryDef
import graft.functions.PortableHash
import graft.functions.TextFunctions
import graft.sources.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** End-to-end corpus curation — the composed training-data pipeline the
  * individual `ta_*`/`dd_*` operators exist to serve:
  *
  *   quality score → threshold filter → exact-dedup canonicalization →
  *   deterministic content-hash sample → surviving rows.
  *
  * Composition is the point: every stage is a row-local projection, a
  * window over a content-hash partition, or a filter — Catalyst fuses
  * the projections into the scan and the single shuffle is the dedup
  * window's hash partitioning on md5(text). At 100 TB the plan is one
  * scan + one exchange, and each stage's semantics match its
  * stand-alone oracle-checked query (`ta_quality_score`,
  * `dd_exact_documents`, `ta_det_sample`).
  */
object Pipeline {

  /** The quality-scoring CTE shared by both curation pipelines. */
  private def scoredSql: String = {
    val sw = TextFunctions.englishStopwords.toSeq.sorted
      .map(w => s"'$w'").mkString(", ")
    s"""scored AS (
            SELECT doc_id, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(CASE WHEN len(string_split(text, ' ')) >= 20 THEN 0.5 ELSE 0.0 END
                    + CASE WHEN (len(list_filter(string_split(text, ' '), t -> list_contains([$sw], t))) * 1.0
                                   / len(string_split(text, ' '))) BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END
                    + CASE WHEN ((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                                   / len(string_split(text, ' '))) BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0.0 END
                      AS DOUBLE) AS quality
            FROM documents)"""
  }

  /** Spark twin of [[scoredSql]] — (doc_id, text, n_tokens, quality). */
  private def qualityScored(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val sw = TextFunctions.englishStopwords.toSeq.sorted
    docs
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("text"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(filter(col("tk"), t => array_contains(array(sw.map(lit): _*), t))) * lit(1.0)
          / size(col("tk"))).as("stop_ratio"),
        ((length(col("text")) - size(col("tk")) + 1) * lit(1.0) / size(col("tk"))).as("mean_token_len"))
      .withColumn("quality",
        when(col("n_tokens") >= 20, 0.5).otherwise(0.0)
          + when(col("stop_ratio").between(0.01, 0.6), 0.3).otherwise(0.0)
          + when(col("mean_token_len").between(3.0, 10.0), 0.2).otherwise(0.0))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "pl_corpus_curation", {
        val h = PortableHash.sqlH32("text")
        Some(s"""
          WITH $scoredSql,
          kept AS (SELECT * FROM scored WHERE quality >= 0.7),
          canonical AS (
            SELECT doc_id, n_tokens, quality,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon,
                   CAST($h % 100 AS BIGINT) AS bucket
            FROM kept)
          SELECT doc_id, n_tokens, quality, bucket
          FROM canonical
          WHERE doc_id = canon AND bucket < 50
          ORDER BY doc_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        qualityScored(documents(s, d))
          .filter($"quality" >= 0.7)
          .withColumn("canon", min($"doc_id").over(Window.partitionBy(md5($"text"))))
          .withColumn("bucket", PortableHash.h32($"text") % 100)
          .filter($"doc_id" === $"canon" && $"bucket" < 50)
          .select($"doc_id", $"n_tokens", $"quality", $"bucket")
          .orderBy($"doc_id")
      }),

    // Fixed-window document chunking with overlap — the pretraining
    // tokenize-and-pack precursor: each doc explodes into ⌈n/stride⌉
    // windows of `chunk` tokens starting every `stride` tokens. Pure
    // row-local generate+slice (no shuffle; Catalyst keeps the explode
    // inside the scan stage). 64-token chunks, 48-token stride.
    QueryDef(
      "pl_chunking",
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     UNNEST(range(0, GREATEST(len(toks) - 1, 0) + 1, 48)) AS start
              FROM t)
        SELECT doc_id,
               CAST(start // 48 AS BIGINT) AS chunk_no,
               CAST(LEAST(64, len(toks) - start) AS BIGINT) AS n_tokens,
               array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text
        FROM s
        ORDER BY doc_id, chunk_no
      """.trim),
      (s, d) => {
        import s.implicits._
        val C = 64
        val S = 48
        documents(s, d)
          .select($"doc_id", split($"text", " ").as("toks"))
          .select($"doc_id", $"toks",
            explode(sequence(lit(0), greatest(size($"toks") - 1, lit(0)), lit(S))).as("start"))
          .select($"doc_id",
            floor($"start" / S).cast("long").as("chunk_no"),
            least(lit(C), size($"toks") - $"start").cast("long").as("n_tokens"),
            array_join(slice($"toks", $"start" + 1, lit(C)), " ").as("chunk_text"))
          .orderBy($"doc_id", $"chunk_no")
      }),

    // Deterministic dataset-mixture sampling: each source gets a target
    // admission rate; a document is kept iff its content-hash bucket
    // falls under its source's rate — the reproducible way to mix
    // corpora to a recipe (same doc set on every run / every cluster,
    // no rand()). Reports kept-counts per source. Rates: src0..src4 →
    // 100%, 75%, 50%, 25%, 10%.
    QueryDef(
      "pl_mixture", {
        val h = PortableHash.sqlH32("text")
        Some(s"""
          WITH rated AS (
            SELECT source, $h % 100 AS bucket,
                   CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 75
                               WHEN 'src2' THEN 50 WHEN 'src3' THEN 25
                               ELSE 10 END AS rate
            FROM documents)
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) FILTER (WHERE bucket < rate) AS BIGINT) AS n_kept
          FROM rated
          GROUP BY source
          ORDER BY source
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val rate = typedLit(Map(
          "src0" -> 100, "src1" -> 75, "src2" -> 50, "src3" -> 25))
        documents(s, d)
          .select($"source",
            (PortableHash.h32($"text") % 100).as("bucket"),
            coalesce(element_at(rate, $"source"), lit(10)).as("rate"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            count(when($"bucket" < $"rate", 1)).as("n_kept"))
          .orderBy($"source")
      }),

    // ------------------------------------------------------------ packing
    // Sequence packing for training batches: docs striped into 32 bins
    // in (token-count desc, doc_id) order — the round-robin relaxation
    // of first-fit-decreasing. The stripe assignment is embarrassingly
    // parallel after the global rank, and the rank itself is computed
    // scale-safely by [[globalRank]] (range shards + offsets), never a
    // single-partition window; bin token sums land within one max-doc
    // of each other, which is what batch-shape balance needs.
    QueryDef(
      "pl_packing",
      Some("""
        WITH toks AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt
          FROM documents),
        ranked AS (
          SELECT doc_id, tok_cnt,
                 row_number() OVER (ORDER BY tok_cnt DESC, doc_id) - 1 AS rn
          FROM toks)
        SELECT CAST(rn % 32 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok_cnt) AS BIGINT) AS tok_sum,
               CAST(MAX(tok_cnt) AS BIGINT) AS tok_max
        FROM ranked
        GROUP BY rn % 32
        ORDER BY bin
      """.trim),
      (s, d) => {
        import s.implicits._
        val toks = documents(s, d)
          .select($"doc_id", size(split($"text", " ")).cast("long").as("tok_cnt"))
        globalRank(toks, Seq(col("tok_cnt").desc, col("doc_id")))
          .select($"tok_cnt", ($"rank" % 32).as("bin"))
          .groupBy($"bin")
          .agg(count(lit(1)).as("n_docs"),
            sum($"tok_cnt").as("tok_sum"),
            max($"tok_cnt").as("tok_max"))
          .orderBy($"bin")
      }),

    // -------------------------------------------- benchmark decontamination
    // Flag training documents that share any 5-token shingle with a
    // held-out benchmark set (here: doc_id % 50 == 0) — the eval-leakage
    // scrub every pretraining pipeline runs. Both sides explode to
    // distinct 5-grams row-local (no shuffle until the gram join); the
    // candidate join shuffles on the gram hash, so work scales with
    // shared-gram volume, not corpus². Measured on this corpus: flags
    // exactly the planted near-dups of benchmark docs (46/4900 at
    // sf0.1), zero random 5-gram collisions — the shingle width is the
    // precision dial.
    QueryDef(
      "pl_decontaminate",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        grams AS (
          SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 3),
                 i -> tk[i] || chr(1) || tk[i+1] || chr(1) || tk[i+2] || chr(1) || tk[i+3] || chr(1) || tk[i+4]))) AS g
          FROM toks WHERE len(tk) >= 5),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        hits AS (
          SELECT g.doc_id, COUNT(DISTINCT g.g) AS n_shared
          FROM grams g JOIN bench b ON g.g = b.g
          WHERE g.doc_id % 50 <> 0
          GROUP BY g.doc_id)
        SELECT d.doc_id, CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
               COALESCE(h.n_shared, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 50 <> 0
        ORDER BY d.doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val grams = documents(s, d)
          .select($"doc_id", gram5Udf($"text").as("gs"))
          .filter($"gs".isNotNull)
          .select($"doc_id", explode($"gs").as("g"))
        val bench = grams.filter($"doc_id" % 50 === 0).select($"g").distinct()
        val hits = grams.filter($"doc_id" % 50 =!= 0)
          .join(bench, "g")
          .groupBy($"doc_id")
          .agg(countDistinct($"g").as("n_shared"))
        documents(s, d).filter($"doc_id" % 50 =!= 0)
          .select($"doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_shared", lit(0L)).as("n_shared"),
            (coalesce($"n_shared", lit(0L)) > 0).as("contaminated"))
          .orderBy($"doc_id")
      }),

    // ------------------------------------------------- stratified sampling
    // Per-language 10% sample with an EXACT per-stratum quota
    // (ceil(0.1·|stratum|)), selected by content-hash order so the
    // sample is reproducible across runs/clusters and every stratum is
    // represented — `TABLESAMPLE`/rand() guarantee neither. One shuffle
    // (the lang window); at scale a skewed stratum salts the rank the
    // same way pl_packing's globalRank shards its order.
    QueryDef(
      "pl_stratified_sample",
      Some("""
        WITH ranked AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents)
        SELECT doc_id, lang
        FROM ranked
        WHERE rn <= CAST(ceil(0.1 * n) AS BIGINT)
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy(md5($"text"), $"doc_id")
        val wc = Window.partitionBy($"lang")
        documents(s, d)
          .select($"doc_id", $"lang",
            row_number().over(w).as("rn"),
            count(lit(1)).over(wc).as("n"))
          .filter($"rn" <= ceil(lit(0.1) * $"n").cast("long"))
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      }),

    // ------------------------------------------- near-dup-aware curation
    // The curation pipeline upgraded from exact to NEAR-duplicate
    // canonicalization: quality filter → banded-MinHash candidate pairs
    // + distributed exact Jaccard verify (≥ 0.7) over the KEPT subset →
    // connected-component cluster representatives → content-hash
    // sample. Every stage is the oracle-checked stand-alone operator
    // (ta_quality_score / dd_minhash_lsh / dd_dup_clusters /
    // ta_det_sample) composed into one dataflow; the oracle replays the
    // same chain with the recursive-CTE closure. This is the pipeline a
    // pretraining corpus actually runs — exact dedup misses the planted
    // near-dups that this keeps exactly one representative of.
    QueryDef(
      "pl_curation_v2", {
        val h = PortableHash.sqlH32("text")
        Some(s"""
          WITH RECURSIVE $scoredSql,
          kept AS (SELECT doc_id, text, n_tokens, quality FROM scored WHERE quality >= 0.7),
          ${Dedup.sqlLshPairsCtes("kept")},
          edges AS (SELECT i AS a, j AS b FROM pairs
                    UNION ALL SELECT j, i FROM pairs),
          walk(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
          mins AS (SELECT a AS doc_id, MIN(b) AS mn FROM walk GROUP BY a),
          reps AS (
            SELECT k.doc_id, k.n_tokens, k.quality, k.text,
                   COALESCE(LEAST(k.doc_id, m.mn), k.doc_id) AS rep
            FROM kept k LEFT JOIN mins m ON k.doc_id = m.doc_id)
          SELECT doc_id, n_tokens, quality, CAST($h % 100 AS BIGINT) AS bucket
          FROM reps
          WHERE doc_id = rep AND $h % 100 < 50
          ORDER BY doc_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val kept = qualityScored(documents(s, d))
          .filter($"quality" >= 0.7)
          .select($"doc_id", $"text", $"n_tokens", $"quality")
          // feeds shingling (twice: signatures + verify) AND the final
          // join — materialize the scored subset once
          .localCheckpoint()
        val pairs = Dedup.minhashLshPairs(kept.select($"doc_id", $"text"))
        val clusters = Dedup.duplicateClusters(kept.select($"doc_id", $"text"), pairs)
        kept.join(clusters, "doc_id")
          .filter($"doc_id" === $"cluster_rep")
          .withColumn("bucket", PortableHash.h32($"text") % 100)
          .filter($"bucket" < 50)
          .select($"doc_id", $"n_tokens", $"quality", $"bucket")
          .orderBy($"doc_id")
      }),

    // ------------------------------------------- full-recipe curation v3
    // The complete modern pretraining-curation filter stack in ONE
    // dataflow — each rule is its own oracle-checked operator,
    // composed: heuristic quality (ta_quality_score, ≥ 0.7), Gopher
    // internal-repetition rules (ta_repetition, dup-bigram fraction
    // < 0.08), unigram-surprisal band (ta_unigram_surprisal,
    // 3.99 < mean_bits < 4.09 — the CCNet perplexity-band idea: drop
    // both the too-predictable and the too-random tails), then
    // near-dup keep-one over the survivors (banded MinHash → verify →
    // connected-component representative). Corpus-sized work is three
    // token-level passes plus the banded candidate join — no stage is
    // quadratic, no stage leaves the cluster.
    QueryDef(
      "pl_curation_v3",
      Some(s"""
          WITH RECURSIVE $scoredSql,
          bg0 AS (
            SELECT doc_id,
                   list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) AS bgs
            FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
            WHERE len(tk) >= 2),
          bgf AS (
            SELECT doc_id, bg, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(bgs) AS bg FROM bg0)
            GROUP BY doc_id, bg),
          rep AS (
            SELECT doc_id, (SUM(c) - COUNT(*)) * 1.0 / SUM(c) AS dup_bigram_frac
            FROM bgf GROUP BY doc_id),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          tfreq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
          ttot AS (SELECT COUNT(*) AS m FROM tok),
          tbits AS (
            SELECT t.doc_id,
                   CAST(floor(log2(CAST(m AS DOUBLE) / f)) AS BIGINT) AS bits
            FROM tok t JOIN tfreq USING (tok) CROSS JOIN ttot),
          surp AS (
            SELECT doc_id, SUM(bits) * 1.0 / COUNT(*) AS mean_bits
            FROM tbits GROUP BY doc_id),
          kept AS (
            SELECT s.doc_id, s.text, s.quality, r.dup_bigram_frac, u.mean_bits
            FROM scored s
            JOIN rep r ON s.doc_id = r.doc_id
            JOIN surp u ON s.doc_id = u.doc_id
            WHERE s.quality >= 0.7
              AND r.dup_bigram_frac < 0.08
              AND u.mean_bits > 3.99 AND u.mean_bits < 4.09),
          ${Dedup.sqlLshPairsCtes("kept")},
          edges AS (SELECT i AS a, j AS b FROM pairs
                    UNION ALL SELECT j, i FROM pairs),
          walk(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
          mins AS (SELECT a AS doc_id, MIN(b) AS mn FROM walk GROUP BY a),
          reps AS (
            SELECT k.doc_id, k.quality, k.dup_bigram_frac, k.mean_bits,
                   COALESCE(LEAST(k.doc_id, m.mn), k.doc_id) AS rep
            FROM kept k LEFT JOIN mins m ON k.doc_id = m.doc_id)
          SELECT doc_id, quality, dup_bigram_frac, mean_bits
          FROM reps
          WHERE doc_id = rep
          ORDER BY doc_id
        """.trim),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val bgs = docs
          .select($"doc_id", TextAnalysis.positionalBigramsUdf($"text").as("bgs"))
          .filter($"bgs".isNotNull)
          .select($"doc_id", explode($"bgs").as("bg"))
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(((sum($"c") - count(lit(1))) * lit(1.0) / sum($"c")).as("dup_bigram_frac"))
        // three consumers (frequency table, total, surprisal join) —
        // cache the exploded stream rather than re-scanning per use
        val tok = docs.select($"doc_id", explode(split($"text", " ")).as("tok")).persist()
        val tfreq = tok.groupBy($"tok").agg(count(lit(1)).as("f"))
        val surp = tok.join(broadcast(tfreq), "tok")
          .crossJoin(broadcast(tok.agg(count(lit(1)).as("m"))))
          .select($"doc_id", floor(log2($"m".cast("double") / $"f")).cast("long").as("bits"))
          .groupBy($"doc_id")
          .agg((sum($"bits") * lit(1.0) / count(lit(1))).as("mean_bits"))
        val kept = qualityScored(docs)
          .filter($"quality" >= 0.7)
          .join(bgs.filter($"dup_bigram_frac" < 0.08), "doc_id")
          .join(surp.filter($"mean_bits" > 3.99 && $"mean_bits" < 4.09), "doc_id")
          .select($"doc_id", $"text", $"quality", $"dup_bigram_frac", $"mean_bits")
          // feeds shingling (signatures + verify) AND the final join —
          // materialize the filtered subset once
          .localCheckpoint()
        val pairs = Dedup.minhashLshPairs(kept.select($"doc_id", $"text"))
        val clusters = Dedup.duplicateClusters(kept.select($"doc_id", $"text"), pairs)
        kept.join(clusters, "doc_id")
          .filter($"doc_id" === $"cluster_rep")
          .select($"doc_id", $"quality", $"dup_bigram_frac", $"mean_bits")
          .orderBy($"doc_id")
      }),

    // --------------------------------------------------- token budgeting
    // Greedy selection under a token budget: rank documents by value
    // density (quality per token, ties on doc_id), admit while the
    // running token total stays within budget — the knapsack relaxation
    // every "fit the best data into N tokens" run uses. The running
    // total is [[globalRunningSum]] (range shards + per-shard prefix
    // sums + shard offsets), NEVER a single-partition global window —
    // the same two-phase shape as [[globalRank]], with one long per
    // shard of driver traffic.
    QueryDef(
      "pl_token_budget",
      Some(s"""
        WITH $scoredSql,
        dens AS (
          SELECT doc_id, n_tokens, quality,
                 quality / n_tokens AS density
          FROM scored WHERE n_tokens > 0),
        run AS (
          SELECT doc_id, n_tokens, quality,
                 SUM(n_tokens) OVER (ORDER BY density DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum_tokens
          FROM dens)
        SELECT doc_id, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM run
        WHERE cum_tokens <= 10000
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val dens = qualityScored(documents(s, d))
          .filter($"n_tokens" > 0)
          .select($"doc_id", $"n_tokens", $"quality",
            ($"quality" / $"n_tokens").as("density"))
        globalRunningSum(dens, Seq($"density".desc, $"doc_id"), col("n_tokens"))
          .filter($"run_sum" <= 10000)
          .select($"doc_id", $"n_tokens", $"quality", $"run_sum".as("cum_tokens"))
          .orderBy($"doc_id")
      }),

    // --------------------------------------------------------- boilerplate
    // Corpus-internal repeated-passage detection — the C4-style cleanup
    // distinct from pl_decontaminate's benchmark overlap: a 10-token
    // window appearing in ≥ 3 documents is boilerplate (headers,
    // templates, licence blocks); each doc reports how much of it is
    // boilerplate. Windows explode row-local (distinct per doc), the
    // df count is one shuffle on the window hash, and the per-doc
    // re-aggregation shuffles on doc_id — nothing quadratic, nothing
    // driver-side. On this corpus it flags exactly the ≥3-member
    // near-dup clusters (31/5000 docs at sf0.1, some 100% repeated).
    QueryDef(
      "pl_boilerplate",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        grams AS (
          SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 8),
                 i -> array_to_string(list_slice(tk, i, i + 9), ' ')))) AS g
          FROM toks WHERE len(tk) >= 10),
        df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
        per_doc AS (
          SELECT gr.doc_id,
                 COUNT(*) AS n_windows,
                 COUNT(CASE WHEN df.df >= 3 THEN 1 END) AS n_boiler
          FROM grams gr JOIN df ON gr.g = df.g
          GROUP BY gr.doc_id)
        SELECT doc_id,
               CAST(n_windows AS BIGINT) AS n_windows,
               CAST(n_boiler AS BIGINT) AS n_boiler,
               n_boiler * 1.0 / n_windows AS boiler_frac,
               n_boiler > 0 AS flagged
        FROM per_doc
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val grams = documents(s, d)
          .select($"doc_id", gram10Udf($"text").as("gs"))
          .filter($"gs".isNotNull)
          .select($"doc_id", explode($"gs").as("g"))
        val df = grams.groupBy($"g").agg(count(lit(1)).as("df"))
        grams.join(df, "g")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_windows"),
            count(when($"df" >= 3, 1)).as("n_boiler"))
          .select($"doc_id", $"n_windows", $"n_boiler",
            ($"n_boiler" * lit(1.0) / $"n_windows").as("boiler_frac"),
            ($"n_boiler" > 0).as("flagged"))
          .orderBy($"doc_id")
      }),

    // Model-based quality filter — the fastText-classifier shape
    // (fixed weights over hand features) that replaces the heuristic
    // threshold in pl_corpus_curation. The score stays in LOGIT space
    // (keep ⟺ w·x ≥ 0 ≡ sigmoid ≥ 0.5): exp() is not bit-portable
    // across engines, while w·x is a fixed-order chain of IEEE ×/+ over
    // ratios of exact integers, so both engines agree to the last bit.
    // All five features are row-local; the only shuffle is the final
    // per-source rollup — at 100 TB this is one map stage plus a
    // |sources|-row aggregate. Oracle literals CAST AS DOUBLE so DuckDB
    // doesn't route them through DECIMAL math.
    QueryDef(
      "pl_quality_model", {
        Some(s"""
          WITH $qmFeatsSql,
          scored AS (
            SELECT source, n_tokens,
                   $qmScoreSql AS score
            FROM feats)
          SELECT source,
                 COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN score >= CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                 CAST(SUM(CASE WHEN score >= CAST(0.0 AS DOUBLE) THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
                 CAST(SUM(CASE WHEN score >= CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) * 1.0
                   / COUNT(*) AS keep_rate,
                 ${graft.det.sqlAvg(
                   "floor(score * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)",
                   6)} AS avg_score
          FROM scored
          GROUP BY source
          ORDER BY source
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        // the same projection the eval queries consume — y is unused
        // here and pruned by Catalyst
        val scored = modelScoredWithLabel(s, d)
        scored.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"score" >= 0.0, 1L).otherwise(0L)).as("n_keep"),
            sum(when($"score" >= 0.0, $"n_tokens").otherwise(0L)).as("kept_tokens"),
            // 6-dp half-up snap BEFORE the DECIMAL cast — double→DECIMAL
            // rounding at exact 1e-6 midpoints is engine-specific
            // (Spark shortest-string vs DuckDB numeric; the ev_winsorize
            // gotcha), while floor over identical doubles is not.
            graft.det.davg(
              floor($"score" * lit(1000000.0) + lit(0.5)) / lit(1000000.0), 6)
              .as("avg_score"))
          .select($"source", $"n_docs", $"n_keep", $"kept_tokens",
            ($"n_keep" * lit(1.0) / $"n_docs").as("keep_rate"), $"avg_score")
          .orderBy($"source")
      }),

    // Best-representative dedup — the production keep-one policy: within
    // each near-dup cluster keep the HIGHEST-QUALITY document (ties →
    // min doc_id), not the arbitrary min-id one. Clusters come from the
    // same alternating large-star/small-star CC as dd_dup_clusters;
    // selection is a struct-max aggregate (map-side combinable — one
    // hash shuffle on cluster_rep, no per-cluster sort), with
    // (quality, −doc_id) lexicographic order encoding the tiebreak.
    // The oracle replays the recursive-CTE transitive closure and picks
    // with a row_number window.
    QueryDef(
      "pl_dedup_keep_best",
      Some(s"""
        WITH RECURSIVE ${Dedup.sqlLshPairsCtes()},
        ${Dedup.sqlClusterReps},
        $scoredSql,
        sel AS (
          SELECT r.cluster_rep, r.doc_id, s.quality,
                 row_number() OVER (PARTITION BY r.cluster_rep
                                    ORDER BY s.quality DESC, r.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY r.cluster_rep) AS csize
          FROM reps r JOIN scored s USING (doc_id))
        SELECT cluster_rep, doc_id AS kept_doc, quality AS kept_quality,
               CAST(csize AS BIGINT) AS cluster_size,
               CAST(csize - 1 AS BIGINT) AS n_dropped
        FROM sel WHERE rn = 1
        ORDER BY cluster_rep
      """.trim),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val clusters = Dedup.duplicateClusters(docs, Dedup.minhashLshPairs(docs))
        val scored = qualityScored(docs).select($"doc_id", $"quality")
        clusters.join(scored, "doc_id")
          .groupBy($"cluster_rep")
          .agg(count(lit(1)).as("csize"),
            max(struct($"quality", ($"doc_id" * lit(-1L)).as("negid"))).as("best"))
          .select($"cluster_rep",
            ($"best.negid" * lit(-1L)).as("kept_doc"),
            $"best.quality".as("kept_quality"),
            $"csize".as("cluster_size"),
            ($"csize" - 1).as("n_dropped"))
          .orderBy($"cluster_rep")
      }),

    // Epoch shuffling without materializing copies: each training epoch
    // orders the corpus by a portable hash of (doc_id, epoch) — a new
    // deterministic permutation per epoch, reproducible on any cluster
    // (the standard seeded-shuffle trick; the hash IS the sort key a
    // writer's range partitioner would use). Ranks come from
    // [[globalRank]] — range-sharded with per-shard offsets, NOT a
    // per-epoch window (3 epochs would mean 3 sort partitions at any
    // scale). Readout: the first 20 positions of each epoch's order;
    // per-epoch position = global (epoch, key) rank minus epoch·N.
    QueryDef(
      "pl_epoch_shuffle",
      Some(s"""
        WITH e AS (
          SELECT doc_id, epoch FROM documents, (VALUES (0), (1), (2)) t(epoch)),
        k AS (
          SELECT doc_id, epoch,
                 ${graft.functions.PortableHash.sqlH32(
                   "CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)")} AS k
          FROM e),
        r AS (
          SELECT epoch, doc_id,
                 row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
          FROM k)
        SELECT CAST(epoch AS BIGINT) AS epoch, CAST(pos AS BIGINT) AS pos, doc_id
        FROM r WHERE pos <= 20
        ORDER BY epoch, pos
      """.trim),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d).select($"doc_id")
        val keyed = docs
          .select($"doc_id", explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
          .withColumn("k", graft.functions.PortableHash.h32(
            concat($"doc_id".cast("string"), lit(":"), $"epoch".cast("string"))))
        globalRank(keyed, Seq($"epoch", $"k", $"doc_id"))
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
          .withColumn("pos", $"rank" - $"epoch" * $"n_docs" + 1)
          .filter($"pos" <= 20)
          .select($"epoch", $"pos", $"doc_id")
          .orderBy($"epoch", $"pos")
      }),

    // Paragraph-level exact dedup — the sub-document pass (RefinedWeb-
    // style): disjoint 64-token chunks stand in for paragraphs, and a
    // chunk content-hash grouped across the corpus finds text blocks
    // repeated across documents that whole-doc dedup can't see
    // (boilerplate headers, quoted passages, mirrored sections). The
    // chunking is the pl_chunking explode at stride = width (row-local,
    // inside the scan stage); the rollup is one hash aggregate on the
    // chunk hash. Reports each duplicated block with its canonical
    // (first) location.
    QueryDef(
      "pl_paragraph_dedup",
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     UNNEST(range(0, GREATEST(len(toks) - 1, 0) + 1, 64)) AS start
              FROM t),
        c AS (
          SELECT doc_id,
                 CAST(start // 64 AS BIGINT) AS chunk_no,
                 md5(array_to_string(list_slice(toks, start + 1, start + 64), ' ')) AS h
          FROM s)
        SELECT h,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               MIN(doc_id) AS first_doc
        FROM c
        GROUP BY h
        HAVING COUNT(*) > 1
        ORDER BY h
      """.trim),
      (s, d) => {
        import s.implicits._
        val W = 64
        documents(s, d)
          .select($"doc_id", split($"text", " ").as("toks"))
          .select($"doc_id", $"toks",
            explode(sequence(lit(0), greatest(size($"toks") - 1, lit(0)), lit(W))).as("start"))
          .select($"doc_id",
            md5(array_join(slice($"toks", $"start" + 1, lit(W)), " ")).as("h"))
          .groupBy($"h")
          .agg(count(lit(1)).as("n_copies"),
            countDistinct($"doc_id").as("n_docs"),
            min($"doc_id").as("first_doc"))
          .filter($"n_copies" > 1)
          .orderBy($"h")
      }),

    // Dataset card — the one-row datasheet a release pipeline prints
    // for the curated corpus: volume (docs, tokens), exact-dup rate,
    // composition (sources, languages, modal language), and quality
    // profile (snapped mean, share above the curation threshold).
    // Every term is a small independent aggregate broadcast-crossed
    // into one row; at 100 TB each is one scan-share of the same
    // dataflow, nothing wide. The modal language is (count desc, lang)
    // — a deterministic mode.
    QueryDef(
      "pl_dataset_card",
      Some(s"""
        WITH t AS (
          SELECT doc_id, text, lang, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
          FROM documents),
        base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
          FROM t),
        dup AS (
          SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_dup_docs
          FROM (SELECT COUNT(*) AS c FROM t GROUP BY md5(text) HAVING COUNT(*) > 1)),
        top AS (
          SELECT lang AS top_lang
          FROM (SELECT lang, COUNT(*) AS c FROM t GROUP BY lang
                ORDER BY c DESC, lang LIMIT 1)),
        $scoredSql,
        q AS (
          SELECT ${graft.det.sqlAvg(
            "floor(quality * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)",
            6)} AS mean_quality,
                 CAST(SUM(CASE WHEN quality >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
                   / COUNT(*) AS pct_quality_ok
          FROM scored)
        SELECT base.n_docs, base.n_tokens, base.n_sources, base.n_langs,
               dup.n_dup_docs, dup.n_dup_docs * 1.0 / base.n_docs AS dup_rate,
               top.top_lang, q.mean_quality, q.pct_quality_ok
        FROM base CROSS JOIN dup CROSS JOIN top CROSS JOIN q
      """.trim),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val t = docs.select($"doc_id", $"text", $"lang", $"source",
          size(split($"text", " ")).cast("long").as("ntok"))
        val base = t.agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"),
          countDistinct($"source").as("n_sources"),
          countDistinct($"lang").as("n_langs"))
        val dup = t.groupBy(md5($"text")).agg(count(lit(1)).as("c"))
          .filter($"c" > 1)
          .agg(coalesce(sum($"c"), lit(0L)).as("n_dup_docs"))
        val top = t.groupBy($"lang").agg(count(lit(1)).as("c"))
          .orderBy($"c".desc, $"lang").limit(1)
          .select($"lang".as("top_lang"))
        val q = qualityScored(docs).agg(
          graft.det.davg(
            floor($"quality" * lit(1000000.0) + lit(0.5)) / lit(1000000.0), 6)
            .as("mean_quality"),
          (sum(when($"quality" >= 0.7, 1L).otherwise(0L)) * lit(1.0)
            / count(lit(1))).as("pct_quality_ok"))
        base.crossJoin(broadcast(dup)).crossJoin(broadcast(top)).crossJoin(broadcast(q))
          .select($"n_docs", $"n_tokens", $"n_sources", $"n_langs",
            $"n_dup_docs", ($"n_dup_docs" * lit(1.0) / $"n_docs").as("dup_rate"),
            $"top_lang", $"mean_quality", $"pct_quality_ok")
      }),

    // Balanced source resampling — downsample every source to the
    // smallest source's size, deterministically: per-source admission
    // threshold thr = (min_count · 10⁶) div count, keep a doc iff its
    // content-hash bucket (h % 10⁶) falls under its source's
    // threshold. Same reproducible-no-rand() contract as pl_mixture,
    // but with DATA-DERIVED rates (the rebalancing real mixtures do
    // when one crawl dwarfs the others); hash admission keeps the
    // expected kept-count at min_count per source without any global
    // sort or per-source limit. Thresholds are exact integer division
    // on both engines.
    QueryDef(
      "pl_balanced_sample", {
        val h = PortableHash.sqlH32("text")
        Some(s"""
          WITH cnt AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
          mn AS (SELECT MIN(c) AS m FROM cnt),
          thr AS (SELECT source, c, (m * 1000000) // c AS thr FROM cnt, mn),
          k AS (
            SELECT d.source, t.c, t.thr,
                   CASE WHEN $h % 1000000 < t.thr THEN 1 ELSE 0 END AS keep
            FROM documents d JOIN thr t USING (source))
          SELECT source,
                 CAST(MAX(c) AS BIGINT) AS n_docs,
                 CAST(MAX(thr) AS BIGINT) AS thr,
                 CAST(SUM(keep) AS BIGINT) AS n_kept,
                 SUM(keep) * 1.0 / MAX(c) AS kept_frac
          FROM k
          GROUP BY source
          ORDER BY source
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val cnt = docs.groupBy($"source").agg(count(lit(1)).as("c"))
        val mn = cnt.agg(min($"c").as("m"))
        val thr = cnt.crossJoin(broadcast(mn))
          .select($"source", $"c", expr("(m * 1000000) div c").as("thr"))
        docs.join(broadcast(thr), "source")
          .select($"source", $"c", $"thr",
            when(PortableHash.h32($"text") % 1000000 < $"thr", 1L)
              .otherwise(0L).as("keep"))
          .groupBy($"source")
          .agg(max($"c").as("n_docs"), max($"thr").as("thr"),
            sum($"keep").as("n_kept"))
          .select($"source", $"n_docs", $"thr", $"n_kept",
            ($"n_kept" * lit(1.0) / $"n_docs").as("kept_frac"))
          .orderBy($"source")
      }),

    // Weighted systematic sampling — draw ~50 documents with
    // probability proportional to token count WITHOUT any randomness:
    // walk the doc_id-ordered token axis and take every document whose
    // cumulative token count crosses a multiple of W/50. Equivalent to
    // PPS systematic sampling with a fixed origin; all integer
    // arithmetic (the stratum index is (cum·50) div W), so it is exactly
    // mirrorable — no pow/log weighted-reservoir keys, which aren't
    // bit-portable across engines. The running sum is the range-sharded
    // globalRunningSum (per-shard offsets, no single-partition window);
    // a doc longer than W/50 crosses several strata but is emitted once
    // (true PPS would emit multiplicity — stratum jumps expose it).
    QueryDef(
      "pl_importance_sample",
      Some(s"""
        WITH $scoredSql,
        run AS (
          SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM scored),
        tot AS (SELECT SUM(n_tokens) AS tw FROM scored)
        SELECT doc_id,
               n_tokens,
               CAST(cum AS BIGINT) AS cum_tokens,
               CAST((cum * 50) // tw AS BIGINT) AS stratum
        FROM run CROSS JOIN tot
        WHERE (cum * 50) // tw > ((cum - n_tokens) * 50) // tw
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val toks = qualityScored(documents(s, d)).select($"doc_id", $"n_tokens")
        val tot = toks.agg(sum($"n_tokens").as("tw"))
        globalRunningSum(toks, Seq($"doc_id"), col("n_tokens"))
          .crossJoin(broadcast(tot))
          .filter(expr("(run_sum * 50) div tw") >
            expr("((run_sum - n_tokens) * 50) div tw"))
          .select($"doc_id", $"n_tokens", $"run_sum".as("cum_tokens"),
            expr("(run_sum * 50) div tw").as("stratum"))
          .orderBy($"doc_id")
      }),

    // Z-order layout audit — the data-skipping statistic behind
    // multi-dimensional clustering (Delta/Iceberg OPTIMIZE ZORDER):
    // interleave the bits of two 10-bit dimensions into one z-value,
    // split the curve into 64 equal z-ranges ("files"), and measure
    // the per-file min-max span of EACH dimension — the exact numbers
    // a scan planner uses to skip files. The row-major linear layout
    // is audited side by side: it bounds the leading dimension only,
    // so its trailing-dimension span stays ~full-range while z-order
    // bounds both — the quantified reason a 100 TB table z-orders its
    // sort key. Pure integer bit arithmetic (shifts, masks, adds) in
    // an identical expression tree on both engines, one groupBy per
    // layout, two final integer-valued double divisions per row.
    QueryDef(
      "pl_zorder_layout", {
        def sqlInterleave(x: String, y: String): String =
          (0 until 10).map(b =>
            s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})")
            .mkString(" + ")
        Some(s"""
        WITH pts AS (
          SELECT l_orderkey % 1024 AS x, l_partkey % 1024 AS y FROM lineitem),
        zf AS (
          SELECT (${sqlInterleave("x", "y")}) >> 14 AS f, x, y FROM pts),
        lf AS (
          SELECT ((x << 10) + y) >> 14 AS f, x, y FROM pts),
        za AS (
          SELECT f, COUNT(*) AS n, MAX(x) - MIN(x) AS xs, MAX(y) - MIN(y) AS ys
          FROM zf GROUP BY f),
        la AS (
          SELECT f, COUNT(*) AS n, MAX(x) - MIN(x) AS xs, MAX(y) - MIN(y) AS ys
          FROM lf GROUP BY f)
        SELECT layout,
               CAST(n_files AS BIGINT) AS n_files,
               avg_x_span, avg_y_span,
               CAST(max_x_span AS BIGINT) AS max_x_span,
               CAST(max_y_span AS BIGINT) AS max_y_span
        FROM (
          SELECT 'linear' AS layout, COUNT(*) AS n_files,
                 CAST(SUM(xs) AS DOUBLE) / COUNT(*) AS avg_x_span,
                 CAST(SUM(ys) AS DOUBLE) / COUNT(*) AS avg_y_span,
                 MAX(xs) AS max_x_span, MAX(ys) AS max_y_span
          FROM la
          UNION ALL
          SELECT 'zorder', COUNT(*),
                 CAST(SUM(xs) AS DOUBLE) / COUNT(*),
                 CAST(SUM(ys) AS DOUBLE) / COUNT(*),
                 MAX(xs), MAX(ys)
          FROM za)
        ORDER BY layout
      """.trim)
      },
      (s, d) => {
        import s.implicits._
        def interleave(x: org.apache.spark.sql.Column,
            y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          (0 until 10).map { b =>
            shiftleft(shiftright(x, b).bitwiseAND(lit(1)), 2 * b) +
              shiftleft(shiftright(y, b).bitwiseAND(lit(1)), 2 * b + 1)
          }.reduceLeft(_ + _)
        val pts = lineitem(s, d)
          .select(($"l_orderkey" % 1024).as("x"), ($"l_partkey" % 1024).as("y"))
        def audit(file: org.apache.spark.sql.Column, name: String) = {
          val perFile = pts
            .select(file.as("f"), $"x", $"y")
            .groupBy($"f")
            .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
          perFile.agg(count(lit(1)).as("n_files"),
            (sum($"xs").cast("double") / count(lit(1))).as("avg_x_span"),
            (sum($"ys").cast("double") / count(lit(1))).as("avg_y_span"),
            max($"xs").as("max_x_span"), max($"ys").as("max_y_span"))
            .select(lit(name).as("layout"), $"n_files", $"avg_x_span",
              $"avg_y_span", $"max_x_span", $"max_y_span")
        }
        audit(shiftright(interleave($"x", $"y"), 14), "zorder")
          .unionByName(audit(shiftright(shiftleft($"x", 10) + $"y", 14), "linear"))
          .orderBy($"layout")
      }),

    // The full ingest admission decision — the composition a crawl
    // pipeline actually runs per batch, in one dataflow: incoming docs
    // (doc_id % 5 = 0) are checked against the EXISTING index for
    // exact and near duplicates ([[graft.operators.Dedup.admitAgainstIndex]],
    // cost ∝ batch, never index²) AND against the curation quality
    // gate (same ≥ 0.7 bar as the curation pipelines). One verdict row
    // per incoming doc with the first-firing reject reason — the
    // record an ingest datasheet is built from. The oracle composes
    // the SAME dedup CTE chain as dd_incremental plus the SAME quality
    // CTE as pl_corpus_curation, so this query cross-checks that the
    // two independently-verified gates compose consistently.
    QueryDef(
      "pl_ingest_admission",
      Some(s"""
        WITH ${graft.operators.Dedup.sqlAdmissionCtes},
        $scoredSql
        SELECT d.doc_id,
               (e.doc_id IS NOT NULL) AS exact_dup,
               CAST(b.j AS BIGINT) AS near_dup_of,
               s.quality,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN b.j IS NOT NULL THEN 'near_dup'
                    WHEN s.quality < 0.7 THEN 'low_quality' END AS reject_reason,
               (e.doc_id IS NULL AND b.j IS NULL AND s.quality >= 0.7) AS admitted
        FROM documents d
        LEFT JOIN exact e ON d.doc_id = e.doc_id
        LEFT JOIN best b ON d.doc_id = b.i
        JOIN scored s ON d.doc_id = s.doc_id
        WHERE d.doc_id % 5 = 0
        ORDER BY d.doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val isBatch = $"doc_id" % 5 === 0
        val dedup = graft.operators.Dedup.admitAgainstIndex(
          docs.filter(isBatch), graft.operators.Dedup.buildIndex(docs.filter(!isBatch)))
        val q = qualityScored(docs.filter(isBatch)).select($"doc_id", $"quality")
        dedup.join(q, "doc_id")
          .select($"doc_id", $"exact_dup", $"near_dup_of", $"quality",
            when($"exact_dup", "exact_dup")
              .when($"near_dup_of".isNotNull, "near_dup")
              .when($"quality" < 0.7, "low_quality").as("reject_reason"),
            (!$"exact_dup" && $"near_dup_of".isNull && $"quality" >= 0.7)
              .as("admitted"))
          .orderBy($"doc_id")
      }),

    // Classifier evaluation for the curation loop: exact Mann–Whitney
    // ROC-AUC of pl_quality_model's logit score against the heuristic
    // quality gate (quality >= 0.7 — the labels a fastText-style
    // filter is trained to mimic), per source. AUC is computed from
    // tie-group rank sums, all-integer until the final ratio:
    //   AUC = (S2 − n_pos·(n_pos+1)) / (2·n_pos·n_neg),
    //   S2  = Σ_groups p·(2·C + c + 1)
    // where c/p are the group's total/positive counts and C the count
    // of strictly-lower scores in the source (ties get average rank).
    // Scale shape: one scan (features row-local) → one hash shuffle to
    // the (source, score) tie-group table → [[globalRunningSum]] for C
    // (range shards + per-shard offsets, NEVER a per-source
    // single-partition window over doc-level rows — a hot source would
    // funnel its whole corpus through one task) → a |sources|-row
    // bounded window for per-source count offsets → one final rollup.
    // Products are routed through DECIMAL(19,0)×(19,0)→(38,0) (S2 ~ n²
    // overflows BIGINT at ~3e9 docs/source); num/den emit as DOUBLE —
    // exact below 2^53, identically nearest-rounded above in both
    // engines' decimal→double conversion. Grouping BY a double score
    // is cross-engine-safe here because both engines build the score
    // from the same fixed-order IEEE chain over ratios of exact
    // integers (the pl_quality_model premise, oracle-proved there).
    QueryDef(
      "pl_quality_auc", {
        Some(s"""
          WITH $qmFeatsSql,
          scored AS (
            SELECT source,
                   $qmScoreSql AS score,
                   $qmLabelSql AS y
            FROM feats),
          g AS (
            SELECT source, score,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(y) AS BIGINT) AS p
            FROM scored GROUP BY source, score),
          r AS (
            SELECT source, c, p,
                   CAST(COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY score
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
            FROM g),
          agg AS (
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(SUM(p) AS BIGINT) AS n_pos,
                   CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
                   SUM(CAST(p AS DECIMAL(19,0)) * CAST(2*cb + c + 1 AS DECIMAL(19,0))) AS s2
            FROM r GROUP BY source)
          SELECT source, n_docs, n_pos, n_neg,
                 CAST(s2 - CAST(n_pos AS DECIMAL(19,0)) * CAST(n_pos + 1 AS DECIMAL(19,0)) AS DOUBLE) AS auc_num,
                 CAST(CAST(2*n_pos AS DECIMAL(19,0)) * CAST(n_neg AS DECIMAL(19,0)) AS DOUBLE) AS auc_den,
                 CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                      ELSE CAST(s2 - CAST(n_pos AS DECIMAL(19,0)) * CAST(n_pos + 1 AS DECIMAL(19,0)) AS DOUBLE)
                           / CAST(CAST(2*n_pos AS DECIMAL(19,0)) * CAST(n_neg AS DECIMAL(19,0)) AS DOUBLE)
                 END AS auc
          FROM agg
          ORDER BY source
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
        val scored = modelScoredWithLabel(s, d)
        val g = scored.groupBy($"source", $"score")
          .agg(count(lit(1)).as("c"), sum($"y").as("p"))
        // inclusive global running count in (source, score) order — a
        // total order on the tie-group table by construction
        val gr = globalRunningSum(g, Seq($"source", $"score"), $"c")
        val srcTot = g.groupBy($"source").agg(sum($"c").as("tot"))
        // |sources|-row table: the unpartitioned window is bounded
        val wSrc = Window.orderBy($"source")
          .rowsBetween(Window.unboundedPreceding, -1)
        val srcOff = srcTot
          .withColumn("src_off", coalesce(sum($"tot").over(wSrc), lit(0L)))
          .select($"source", $"src_off")
        val r = gr.join(broadcast(srcOff), "source")
          .withColumn("cb", $"run_sum" - $"c" - $"src_off")
        val agg = r.groupBy($"source").agg(
          sum($"c").as("n_docs"),
          sum($"p").as("n_pos"),
          (sum($"c") - sum($"p")).as("n_neg"),
          sum($"p".cast(dec19)
            * (lit(2L) * $"cb" + $"c" + lit(1L)).cast(dec19)).as("s2"))
        agg.select($"source", $"n_docs", $"n_pos", $"n_neg",
          ($"s2" - $"n_pos".cast(dec19) * ($"n_pos" + 1).cast(dec19))
            .cast("double").as("auc_num"),
          ((lit(2L) * $"n_pos").cast(dec19) * $"n_neg".cast(dec19))
            .cast("double").as("auc_den"),
          when($"n_pos" === 0 || $"n_neg" === 0, lit(null).cast("double"))
            .otherwise(
              ($"s2" - $"n_pos".cast(dec19) * ($"n_pos" + 1).cast(dec19)).cast("double")
                / ((lit(2L) * $"n_pos").cast(dec19) * $"n_neg".cast(dec19)).cast("double"))
            .as("auc"))
          .orderBy($"source")
      }),

    // Reliability table for the same model: eighth-logit score bins (the model's scores concentrate within ~one logit of the threshold) vs the
    // empirical positive rate of the heuristic gate — the calibration
    // readout that tells a curation operator whether the 0-logit keep
    // threshold is honest. One scan + one hash aggregate (bin is
    // row-local floor(score·8)); per-bin mean score goes through the
    // same 6-dp floor-snap + DECIMAL route as pl_quality_model's
    // avg_score. Trivially scale-safe: output is |bins| rows.
    QueryDef(
      "pl_quality_calibration", {
        Some(s"""
          WITH $qmFeatsSql,
          scored AS (
            SELECT $qmScoreSql AS score,
                   $qmLabelSql AS y
            FROM feats)
          SELECT CAST(floor(score * CAST(8.0 AS DOUBLE)) AS BIGINT) AS bin,
                 CAST(floor(score * CAST(8.0 AS DOUBLE)) AS BIGINT) / CAST(8.0 AS DOUBLE) AS bin_lo,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(y) AS BIGINT) AS n_pos,
                 CAST(SUM(y) AS BIGINT) * 1.0 / COUNT(*) AS pos_rate,
                 ${graft.det.sqlAvg(
                   "floor(score * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)",
                   6)} AS avg_score
          FROM scored
          GROUP BY 1
          ORDER BY bin
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        modelScoredWithLabel(s, d)
          .withColumn("bin", floor($"score" * lit(8.0)).cast("long"))
          .groupBy($"bin")
          .agg(count(lit(1)).as("n_docs"),
            sum($"y").as("n_pos"),
            (sum($"y") * lit(1.0) / count(lit(1))).as("pos_rate"),
            graft.det.davg(
              floor($"score" * lit(1000000.0) + lit(0.5)) / lit(1000000.0), 6)
              .as("avg_score"))
          .select($"bin", ($"bin" / lit(8.0)).as("bin_lo"),
            $"n_docs", $"n_pos", $"pos_rate", $"avg_score")
          .orderBy($"bin")
      })
  )

  /** Shared oracle SQL for the quality-model trio (pl_quality_model /
    * pl_quality_auc / pl_quality_calibration): the `tk`+`feats` CTEs
    * and the score/label expressions are interpolated into all three
    * queries from HERE, so a tweak to the model's weights or features
    * cannot silently drift the eval queries away from the model they
    * claim to evaluate. Spark twin: [[modelScoredWithLabel]]. */
  private[graft] def qmFeatsSql: String = {
    val sw = TextFunctions.englishStopwords.toSeq.sorted
      .map(w => s"'$w'").mkString(", ")
    s"""tk AS (
            SELECT doc_id, source, text, string_split(text, ' ') AS tk FROM documents),
          feats AS (
            SELECT doc_id, source,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   len(list_filter(tk, t -> list_contains([$sw], t))) * 1.0 / len(tk) AS stop_ratio,
                   (length(text) - len(tk) + 1) * 1.0 / len(tk) AS mean_tok,
                   len(list_distinct(tk)) * 1.0 / len(tk) AS distinct_ratio,
                   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                     / length(text) AS digit_frac
            FROM tk)"""
  }

  private[graft] def qmScoreSql: String =
    """CAST(-1.2 AS DOUBLE)
                     + CAST(0.9 AS DOUBLE) * (least(n_tokens, 100) / CAST(100.0 AS DOUBLE))
                     + CAST(0.8 AS DOUBLE) * stop_ratio
                     + CAST(0.6 AS DOUBLE) * (mean_tok / CAST(10.0 AS DOUBLE))
                     + CAST(0.7 AS DOUBLE) * distinct_ratio
                     - CAST(1.5 AS DOUBLE) * digit_frac"""

  private[graft] def qmLabelSql: String =
    """CASE WHEN (CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END
                            + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END
                            + CASE WHEN mean_tok BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0.0 END)
                           >= 0.7 THEN 1 ELSE 0 END"""

  /** Scaled feature rows for [[Probe]]'s linear probe: x0 = bias and
    * x1..x5 are the quality model's features in ITS scaling (so the
    * trained weights are directly comparable to the fixed logit's),
    * with the heuristic gate as the double label. Same single scan and
    * row-local chain as [[modelScoredWithLabel]]. */
  private[graft] def modelFeatureRows(s: org.apache.spark.sql.SparkSession,
                                      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val sw = TextFunctions.englishStopwords.toSeq.sorted
    documents(s, d)
      .select($"text", split($"text", " ").as("tk"))
      .select(
        size($"tk").cast("long").as("n_tokens"),
        (size(filter($"tk", t => array_contains(array(sw.map(lit): _*), t))) * lit(1.0)
          / size($"tk")).as("stop_ratio"),
        ((length($"text") - size($"tk") + 1) * lit(1.0) / size($"tk")).as("mean_tok"),
        (size(array_distinct($"tk")) * lit(1.0) / size($"tk")).as("distinct_ratio"),
        ((length($"text") - length(regexp_replace($"text", "[0-9]", ""))) * lit(1.0)
          / length($"text")).as("digit_frac"))
      .select(
        lit(1.0).as("x0"),
        (least($"n_tokens", lit(100L)) / lit(100.0)).as("x1"),
        $"stop_ratio".as("x2"),
        ($"mean_tok" / lit(10.0)).as("x3"),
        $"distinct_ratio".as("x4"),
        $"digit_frac".as("x5"),
        ((when($"n_tokens" >= 20, 0.5).otherwise(0.0)
          + when($"stop_ratio".between(0.01, 0.6), 0.3).otherwise(0.0)
          + when($"mean_tok".between(3.0, 10.0), 0.2).otherwise(0.0)) >= 0.7)
          .cast("double").as("y"))
  }

  /** Per-doc (source, n_tokens, score, y) for the quality-model family:
    * the logit score is pl_quality_model's feature chain VERBATIM (same
    * ops, same order — cross-engine bit-equality is established there)
    * and y is the heuristic curation gate ([[qualityScored]]'s quality
    * >= 0.7, the label the model filter stands in for), both from ONE
    * row-local projection over one scan. Package-private so
    * QualityEvalSpec's naive formulation builds on the SAME projection
    * and pins only the rank machinery. */
  private[graft] def modelScoredWithLabel(s: org.apache.spark.sql.SparkSession,
                                          d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val sw = TextFunctions.englishStopwords.toSeq.sorted
    documents(s, d)
      .select($"doc_id", $"source", $"text", split($"text", " ").as("tk"))
      .select($"doc_id", $"source",
        size($"tk").cast("long").as("n_tokens"),
        (size(filter($"tk", t => array_contains(array(sw.map(lit): _*), t))) * lit(1.0)
          / size($"tk")).as("stop_ratio"),
        ((length($"text") - size($"tk") + 1) * lit(1.0) / size($"tk")).as("mean_tok"),
        (size(array_distinct($"tk")) * lit(1.0) / size($"tk")).as("distinct_ratio"),
        ((length($"text") - length(regexp_replace($"text", "[0-9]", ""))) * lit(1.0)
          / length($"text")).as("digit_frac"))
      .select($"doc_id", $"source", $"n_tokens",
        (lit(-1.2)
          + lit(0.9) * (least($"n_tokens", lit(100L)) / lit(100.0))
          + lit(0.8) * $"stop_ratio"
          + lit(0.6) * ($"mean_tok" / lit(10.0))
          + lit(0.7) * $"distinct_ratio"
          - lit(1.5) * $"digit_frac").as("score"),
        ((when($"n_tokens" >= 20, 0.5).otherwise(0.0)
          + when($"stop_ratio".between(0.01, 0.6), 0.3).otherwise(0.0)
          + when($"mean_tok".between(3.0, 10.0), 0.2).otherwise(0.0)) >= 0.7)
          .cast("long").as("y"))
  }

  /** Distinct k-token shingles, row-local (same single-pass-UDF
    * rationale as Dedup.shingleArrays — the expression form re-splits
    * the text per element under CollapseProject). Null for docs with
    * fewer than k tokens, mirroring the oracles' WHERE len >= k. */
  private def gramKUdf(k: Int, sep: String) = udf { text: String =>
    if (text == null) null
    else {
      val tk = text.split(" ", -1)
      if (tk.length < k) null
      else {
        val seen = new java.util.LinkedHashSet[String]
        var i = 0
        while (i <= tk.length - k) {
          seen.add(tk.slice(i, i + k).mkString(sep))
          i += 1
        }
        seen.toArray(new Array[String](seen.size))
      }
    }
  }

  // Separator: U+0001 (as ta_bpe_merges' oracle uses) — a control
  // char cannot appear in a whitespace-split token, so gram identity
  // is unambiguous even for corpora whose tokens contain '_'
  // ("a_b c" vs "a b_c" no longer collide). The oracle joins with
  // chr(1) to match. gram10Udf joins with ' ' which is equally
  // token-impossible after a whitespace split.
  private val gram5Udf = gramKUdf(5, "\u0001")
  private val gram10Udf = gramKUdf(10, " ")

  /** Scale-safe global 0-based rank by a total-order key: range-
    * repartition on the key so shard i holds ranks strictly before
    * shard i+1, rank within each shard with an ordinary window, and
    * add per-shard offsets. The only driver traffic is one row count
    * per shard — a global `row_number() OVER (ORDER BY ...)` funnels
    * every row through one task instead. The checkpoint pins the
    * sampled range boundaries so the offset job and the rank job see
    * the same shard assignment (separate actions re-sample otherwise).
    */
  def globalRank(df: org.apache.spark.sql.DataFrame,
                 order: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy(col("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L)((acc, i) => acc + counts.getOrElse(i, 0L))
    val offsetMap = typedLit((0 until p).map(i => i -> offsets(i)).toMap)
    val w = Window.partitionBy(col("pid")).orderBy(order: _*)
    ranged
      .withColumn("rank",
        element_at(offsetMap, col("pid")) + row_number().over(w).cast("long") - 1L)
      .drop("pid")
  }

  /** Scale-safe global running sum of a LONG column in a total order:
    * the [[globalRank]] construction with per-shard prefix sums and
    * per-shard value-total offsets. `run_sum` on each row equals the
    * single-partition `SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)`; driver traffic is one long per shard.
    *
    * CONTRACT: `order` must be a TOTAL order (a unique key). With
    * duplicate keys a ROWS-frame running sum is inherently
    * nondeterministic — per-partition tie order and range-boundary
    * placement both move rows between prefixes — in the
    * single-partition window just as here. Callers append a unique
    * tiebreaker column (existing ones end in doc_id / tok). Not
    * assertable cheaply (a distinct-count over the key set per call),
    * so enforced by contract + the equality spec against the
    * single-partition formulation. */
  def globalRunningSum(df: org.apache.spark.sql.DataFrame,
                       order: Seq[org.apache.spark.sql.Column],
                       value: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("rsv", value.cast("long"))
      .localCheckpoint()
    val totals = ranged.groupBy(col("pid")).agg(sum(col("rsv")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L)((acc, i) => acc + totals.getOrElse(i, 0L))
    val offsetMap = typedLit((0 until p).map(i => i -> offsets(i)).toMap)
    val w = Window.partitionBy(col("pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("run_sum", element_at(offsetMap, col("pid")) + sum(col("rsv")).over(w))
      .drop("pid", "rsv")
  }

  /** Scale-safe STRICT prefix max of a LONG column in a total order:
    * `pre_max` on each row equals `MAX(value) OVER (ORDER BY ... ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` — null on the
    * global first row — built like [[globalRunningSum]]: range-shard,
    * per-shard window, per-shard max offsets (one long per shard of
    * driver traffic) so no single-partition window ever forms. Same
    * TOTAL-order contract on `order` as globalRunningSum. The strict
    * (exclusive) frame is what staircase algorithms (skyline,
    * record-breaking scans) need. */
  def globalPrefixMax(df: org.apache.spark.sql.DataFrame,
                      order: Seq[org.apache.spark.sql.Column],
                      value: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("pmv", value.cast("long"))
      .localCheckpoint()
    val maxes = ranged.groupBy(col("pid")).agg(max(col("pmv")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // offset(i) = max over shards strictly before i; None when empty
    val offsets = (0 until p).scanLeft(Option.empty[Long]) { (acc, i) =>
      (acc.toSeq ++ maxes.get(i).toSeq).reduceOption((a, b) => math.max(a, b))
    }
    val offsetMap = typedLit((0 until p).flatMap(i =>
      offsets(i).map(o => i -> o)).toMap)
    val w = Window.partitionBy(col("pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("pre_max",
        greatest(
          coalesce(element_at(offsetMap, col("pid")), lit(Long.MinValue)),
          coalesce(max(col("pmv")).over(w), lit(Long.MinValue))))
      .withColumn("pre_max",
        when(col("pre_max") === Long.MinValue, lit(null).cast("long"))
          .otherwise(col("pre_max")))
      .drop("pid", "pmv")
  }
}
