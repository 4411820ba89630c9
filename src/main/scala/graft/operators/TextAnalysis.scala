package graft.operators

import graft.QueryDef
import graft.functions.TextFunctions
import graft.sources.Tables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for a training-data pipeline over the
  * `documents` corpus: token statistics, language identification,
  * quality scoring, and document fingerprinting.
  *
  * Everything is a pure expression tree over a single scan — no UDFs,
  * no shuffles except the final presentation sort; per-row double
  * division is IEEE-deterministic so the oracle hash-matches.
  */
final case class WinnowStats(n_windows: Long, n_fp: Long, fp_min: Long, fp_max: Long)

object TextAnalysis {

  /** Marker lexicons for the language-ID heuristic. The corpus is
    * synthetic, so markers double as a determinism test of
    * set-intersection scoring; swap lexicons for real fastText-style
    * stop-word lists in production. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "data", "fast", "key", "join", "row"),
    "de" -> Seq("der", "die", "und", "merge", "window", "batch"),
    "es" -> Seq("el", "la", "los", "query", "stream", "table"),
    "fr" -> Seq("le", "les", "et", "filter", "group", "sort"),
    "zh" -> Seq("spark", "agg", "scan", "hash", "column", "value"))

  /** PII regexes, restricted to the Java-regex ∩ RE2 subset so Spark and
    * DuckDB match identically: character classes, bounded repeats, and
    * `\b` only — no lookaround, no backreferences, no possessives.
    * (Declared before `defs`: the oracle strings interpolate them at
    * object init, which runs top-down.) */
  private[operators] val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[operators] val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private[operators] val phoneRe = """\+1-555-\d{4}"""

  private def toks: Column = split(col("text"), " ")

  /** Distinct character trigrams in first-occurrence order (matches
    * DuckDB's list_distinct over the positional transform). */
  private[operators] val trigramUdf = udf { text: String =>
    if (text == null || text.length < 3) null
    else {
      val seen = new java.util.LinkedHashSet[String]
      var i = 0
      while (i <= text.length - 3) { seen.add(text.substring(i, i + 3)); i += 1 }
      seen.toArray(new Array[String](seen.size))
    }
  }

  /** Winnowing stats in one pass: k=8 char k-grams hashed with the
    * portable h32 (first 4 md5 bytes, unsigned), w=4 sliding minima.
    * Requires length ≥ k + w - 1 = 11 (caller filters). */
  private[operators] val winnowUdf = udf { text: String =>
    val k = 8; val w = 4
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(text.substring(i, i + k).getBytes("UTF-8"))
      hashes(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    val nw = n - w + 1
    val minima = new Array[Long](nw)
    var j = 0
    while (j < nw) {
      var m = hashes(j)
      var x = j + 1
      while (x < j + w) { if (hashes(x) < m) m = hashes(x); x += 1 }
      minima(j) = m
      j += 1
    }
    WinnowStats(nw.toLong, minima.distinct.length.toLong, minima.min, minima.max)
  }

  /** ALL positional space-joined word bigrams (repeats kept — the
    * repetition rules need multiplicity); null under 2 tokens. */
  private[operators] val positionalBigramsUdf = udf { text: String =>
    if (text == null) null
    else {
      val tk = text.split(" ", -1)
      if (tk.length < 2) null
      else Array.tabulate(tk.length - 1)(i => tk(i) + " " + tk(i + 1))
    }
  }

  private def markerScore(markers: Seq[String]): Column =
    size(array_intersect(array_distinct(toks), array(markers.map(lit): _*))).cast("long")

  private def sqlMarkerScore(markers: Seq[String]): String = {
    val lits = markers.map(m => s"'$m'").mkString(", ")
    s"CAST(len(list_intersect(list_distinct(string_split(text, ' ')), [$lits])) AS BIGINT)"
  }

  /** Each document's best-overlapping language (`plang`, ties to the
    * smaller name) with its `overlap`: the count of the document's
    * distinct character trigrams among that language's 40 most
    * document-frequent ones (`lang`, `doc_id` kept). */
  private[operators] def langGuesses(docs: DataFrame): DataFrame = {
    val tg = docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode(trigramUdf(col("text"))).as("tri"))
    val wProf = Window.partitionBy(col("lang")).orderBy(desc("df"), asc("tri"))
    val prof = tg.groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("df"))
      .withColumn("rn", row_number().over(wProf))
      .filter(col("rn") <= 40)
      .select(col("lang").as("plang"), col("tri"))
    val scored = tg.join(broadcast(prof), "tri")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("overlap"))
    val wBest = Window.partitionBy(col("doc_id")).orderBy(desc("overlap"), asc("plang"))
    scored.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
  }

  /** SQL mirror of [[langGuesses]] up to the per-language overlaps: the
    * `tg`, `prof` and `scored(doc_id, lang, plang, overlap)` CTEs. */
  private[operators] def sqlLangScored: String = """tg AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(list_transform(
                   range(1, length(text) - 1), i -> substr(text, i, 3)))) AS tri
          FROM documents WHERE length(text) >= 3),
        prof AS (
          SELECT lang AS plang, tri FROM (
            SELECT lang, tri, COUNT(*) AS df,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY COUNT(*) DESC, tri) AS rn
            FROM tg GROUP BY lang, tri)
          WHERE rn <= 40),
        scored AS (
          SELECT t.doc_id, t.lang, p.plang, COUNT(*) AS overlap
          FROM tg t JOIN prof p ON t.tri = p.tri
          GROUP BY t.doc_id, t.lang, p.plang)"""

  val defs: Seq[QueryDef] = Seq(

    // Deterministic content-hash sampling: the reproducible-corpus
    // staple. Keep a doc iff h32(text) mod 100 lands under the rate —
    // stable across runs, partitionings, and engines (portable MD5
    // family), and re-running with a wider rate yields a SUPERSET
    // (nested samples, the property ad-hoc random sampling loses).
    // Content-keyed (not id-keyed) so re-ingested duplicates sample
    // identically. Pure row-local projection + filter: at 100 TB it is
    // one scan with the predicate pushed into the projection, no
    // shuffle at all.
    QueryDef(
      "ta_det_sample", {
        val h = graft.functions.PortableHash.sqlH32("text")
        Some(s"""
          SELECT doc_id, CAST($h % 100 AS BIGINT) AS bucket
          FROM documents
          WHERE $h % 100 < 10
          ORDER BY doc_id
        """.trim)
      },
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          (graft.functions.PortableHash.h32(col("text")) % 100).as("bucket"))
        .filter(col("bucket") < 10)
        .orderBy(col("doc_id"))),

    // Token counting: counts, type-token ratio, longest token.
    QueryDef(
      "ta_token_stats",
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1.0
                  / len(string_split(text, ' '))) AS ttr,
               CAST(list_max(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS max_token_len,
               CAST(length(text) AS BIGINT) AS n_chars_actual
        FROM documents
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        // project the token array once — lambdas over a materialized
        // array column, never over a re-split expression (O(n²) trap)
        documents(s, d)
          .select($"doc_id", $"text", split($"text", " ").as("tk"))
          .select(
            $"doc_id",
            size($"tk").cast("long").as("n_tokens"),
            size(array_distinct($"tk")).cast("long").as("n_distinct"),
            (size(array_distinct($"tk")).cast("long") * lit(1.0) / size($"tk")).as("ttr"),
            array_max(transform($"tk", t => length(t))).cast("long").as("max_token_len"),
            length($"text").cast("long").as("n_chars_actual"))
          .orderBy($"doc_id")
      }),

    // Language identification: marker-lexicon scores + deterministic argmax.
    QueryDef(
      "ta_lang_id", {
        val scoreSql = langMarkers.map { case (l, m) => s"${sqlMarkerScore(m)} AS s_$l" }
          .mkString(",\n               ")
        val caseSql = langMarkers.map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }
          .mkString(" ")
        Some(s"""
          SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
                 CASE $caseSql END AS lang_guess
          FROM (
            SELECT doc_id, lang, $scoreSql,
                   greatest(${langMarkers.map { case (l, m) => sqlMarkerScore(m) }.mkString(", ")}) AS m
            FROM documents)
          ORDER BY doc_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val scored = documents(s, d).select(
          ($"doc_id" +: $"lang" +:
            langMarkers.map { case (l, m) => markerScore(m).as(s"s_$l") }): _*)
          .withColumn("m", greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*))
        // deterministic argmax: first lang (in declaration order) reaching max
        val argmax = langMarkers.reverse.foldLeft(lit(null).cast("string")) {
          case (acc, (l, _)) => when(col(s"s_$l") === $"m", l).otherwise(acc)
        }
        scored.withColumn("lang_guess", argmax)
          .select($"doc_id", $"lang", $"s_en", $"s_de", $"s_es", $"s_fr", $"s_zh", $"lang_guess")
          .orderBy($"doc_id")
      }),

    // N-gram language ID (Cavnar–Trenkle shape): per-language character
    // trigram profiles are TRAINED from the corpus (top-40 trigrams by
    // document frequency per lang) and each doc is classified by
    // profile overlap — train and apply in one deterministic query.
    // Spark side: single-pass trigram UDF (the expression form hits the
    // CollapseProject O(n²) re-split trap), one groupBy for profiles,
    // broadcast profile join for scoring.
    QueryDef(
      "ta_ngram_lang_id",
      Some(s"""
        WITH $sqlLangScored
        SELECT doc_id, lang, plang AS guess, overlap FROM (
          SELECT doc_id, lang, plang, overlap,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY overlap DESC, plang) AS rn
          FROM scored)
        WHERE rn = 1
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        langGuesses(documents(s, d))
          .select($"doc_id", $"lang", $"plang".as("guess"), $"overlap")
          .orderBy($"doc_id")
      }),

    // Quality scoring: stopword ratio, mean token length, composite score.
    QueryDef(
      "ta_quality_score", {
        val sw = TextFunctions.englishStopwords.toSeq.sorted
          .map(w => s"'$w'").mkString(", ")
        Some(s"""
          SELECT doc_id, n_tokens, stop_ratio, mean_token_len,
                 CAST(CASE WHEN n_tokens >= 20 THEN 0.5 ELSE 0.0 END
                  + CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END
                  + CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS quality
          FROM (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   (len(list_filter(string_split(text, ' '), t -> list_contains([$sw], t))) * 1.0
                      / len(string_split(text, ' '))) AS stop_ratio,
                   ((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                      / len(string_split(text, ' '))) AS mean_token_len
            FROM documents)
          ORDER BY doc_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val sw = TextFunctions.englishStopwords.toSeq.sorted
        documents(s, d)
          .select($"doc_id", $"text", split($"text", " ").as("tk"))
          .select(
            $"doc_id",
            size($"tk").cast("long").as("n_tokens"),
            (size(filter($"tk", t => array_contains(array(sw.map(lit): _*), t))) * lit(1.0)
              / size($"tk")).as("stop_ratio"),
            ((length($"text") - size($"tk") + 1) * lit(1.0) / size($"tk")).as("mean_token_len"))
          .withColumn("quality",
            when($"n_tokens" >= 20, 0.5).otherwise(0.0)
              + when($"stop_ratio".between(0.01, 0.6), 0.3).otherwise(0.0)
              + when($"mean_token_len".between(3.0, 10.0), 0.2).otherwise(0.0))
          .orderBy($"doc_id")
      }),

    // BPE-ish token counting: letter runs, single digits, single
    // punctuation — the GPT-2 pretokenizer shape, ASCII-safe so the
    // Java and RE2 regex engines agree. Whitespace count alongside.
    QueryDef(
      "ta_bpe_tokens",
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
               (CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) * 1.0
                  / len(string_split(text, ' '))) AS bpe_per_word
        FROM documents
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val pat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
        documents(s, d)
          .select($"doc_id", split($"text", " ").as("tk"),
            regexp_extract_all($"text", lit(pat), lit(0)).as("bpe"))
          .select($"doc_id",
            size($"tk").cast("long").as("n_ws_tokens"),
            size($"bpe").cast("long").as("n_bpe_tokens"),
            (size($"bpe").cast("long") * lit(1.0) / size($"tk")).as("bpe_per_word"))
          .orderBy($"doc_id")
      }),

    // Winnowing document fingerprints (the MOSS rolling-hash scheme):
    // 8-char k-gram hashes, 4-window minima, distinct minima = the
    // fingerprint set. Single-pass UDF on the Spark side (the
    // expression formulation re-evaluates the k-gram array per window —
    // the CollapseProject O(n²) trap); portable-hash parity with the
    // SQL formulation on the DuckDB side.
    QueryDef(
      "ta_winnowing_fp",
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) - 6),
                   i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 8))::UBIGINT AS BIGINT)) AS hashes
          FROM documents WHERE length(text) >= 11),
        m AS (
          SELECT doc_id,
                 list_transform(range(1, len(hashes) - 2),
                   j -> list_min(hashes[j:j+3])) AS minima
          FROM h)
        SELECT doc_id, CAST(len(minima) AS BIGINT) AS n_windows,
               CAST(len(list_distinct(minima)) AS BIGINT) AS n_fp,
               CAST(list_min(minima) AS BIGINT) AS fp_min,
               CAST(list_max(minima) AS BIGINT) AS fp_max
        FROM m
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .filter(length($"text") >= 11)
          .select($"doc_id", winnowUdf($"text").as("w"))
          .select($"doc_id", $"w.n_windows", $"w.n_fp", $"w.fp_min", $"w.fp_max")
          .orderBy($"doc_id")
      }),

    // Document fingerprinting: exact-content hash + token-order-independent
    // (bag-of-words) hash. MD5 is portable across engines (PortableHash).
    QueryDef(
      "ta_fingerprint",
      Some("""
        SELECT doc_id,
               md5(text) AS content_fp,
               md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow_fp,
               CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS fp32
        FROM documents
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        documents(s, d).select(
          $"doc_id",
          md5($"text").as("content_fp"),
          md5(concat_ws(" ", array_sort(toks))).as("bow_fp"),
          graft.functions.PortableHash.h32($"text").as("fp32"))
          .orderBy($"doc_id")
      }),

    // ------------------------------------------------------- readability
    // Flesch reading-ease from regex-countable proxies (vowel-group
    // syllables, [.!?]+ sentence breaks). All-integer counts feed
    // exact IEEE divisions and a fixed-order linear form, so the
    // score is bit-identical cross-engine; the coefficients are the
    // published Flesch constants. Row-local → fuses into the scan.
    QueryDef(
      "ta_readability",
      Some("""
        WITH c AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
                 CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
                 CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS syllables
          FROM documents)
        SELECT doc_id, words, sentences, syllables,
               CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE) * (CAST(words AS DOUBLE) / sentences)
                 - CAST(84.6 AS DOUBLE) * (CAST(syllables AS DOUBLE) / words) AS flesch
        FROM c
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .select($"doc_id",
            size(split($"text", " ")).cast("long").as("words"),
            greatest(size(regexp_extract_all($"text", lit("[.!?]+"), lit(0))), lit(1))
              .cast("long").as("sentences"),
            greatest(size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0))), lit(1))
              .cast("long").as("syllables"))
          .select($"doc_id", $"words", $"sentences", $"syllables",
            (lit(206.835) - lit(1.015) * ($"words".cast("double") / $"sentences")
              - lit(84.6) * ($"syllables".cast("double") / $"words")).as("flesch"))
          .orderBy($"doc_id")
      }),

    // ------------------------------------------------------ collocations
    // Top-20 bigram collocations by lift p(xy)/(p(x)p(y)) — PMI's
    // argument without the log, because ln() is not cross-engine-stable
    // and lift orders identically. Counts convert to DOUBLE exactly
    // (< 2^53) and both engines evaluate the identical product/division
    // tree, so the score hash-matches. Bigrams are row-local (transform over
    // token indices — no shuffle before the count); the oracle builds
    // them with a list_transform lambda over token indices.
    QueryDef(
      "ta_collocations",
      Some("""
        WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents),
        toks AS (SELECT unnest(tk) AS tok FROM tk),
        big0 AS (
          SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                        i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS b
          FROM tk),
        big AS (
          SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS cnt_xy FROM big0
          GROUP BY b.w1, b.w2),
        uni AS (SELECT tok AS w, COUNT(*) AS cnt FROM toks GROUP BY tok),
        tot AS (
          SELECT (SELECT COUNT(*) FROM toks) AS n,
                 (SELECT COUNT(*) FROM big0) AS m)
        SELECT w1, w2, CAST(cnt_xy AS BIGINT) AS cnt,
               CAST(cnt_xy AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(m AS DOUBLE) * CAST(u1.cnt AS DOUBLE) * CAST(u2.cnt AS DOUBLE)) AS lift
        FROM big
        JOIN uni u1 ON u1.w = big.w1
        JOIN uni u2 ON u2.w = big.w2
        CROSS JOIN tot
        WHERE cnt_xy >= 5
        ORDER BY lift DESC, w1, w2
        LIMIT 20
      """.trim),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d).select($"doc_id", split($"text", " ").as("tk"))
        val tokens = docs.select(explode($"tk").as("w"))
        val big = docs.filter(size($"tk") >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(tk)-2), i -> struct(tk[i] AS w1, tk[i+1] AS w2))")).as("b"))
          .select($"b.w1".as("w1"), $"b.w2".as("w2"))
          .groupBy($"w1", $"w2").agg(count(lit(1)).as("cnt_xy"))
        val uni = tokens.groupBy($"w").agg(count(lit(1)).as("cnt"))
        val tot = tokens.agg(count(lit(1)).as("n"))
          .crossJoin(big.agg(sum($"cnt_xy").as("m")))
        big.filter($"cnt_xy" >= 5)
          .join(uni.select($"w".as("w1"), $"cnt".as("c1")), "w1")
          .join(uni.select($"w".as("w2"), $"cnt".as("c2")), "w2")
          .crossJoin(broadcast(tot))
          // products in DOUBLE, not int64: cnt_xy·n² overflows Long on
          // a few-million-token corpus; each count converts exactly
          // (< 2^53) and both engines evaluate the same product tree
          .select($"w1", $"w2", $"cnt_xy".as("cnt"),
            ($"cnt_xy".cast("double") * $"n".cast("double") * $"n".cast("double") /
              ($"m".cast("double") * $"c1".cast("double") * $"c2".cast("double"))).as("lift"))
          .orderBy($"lift".desc, $"w1", $"w2")
          .limit(20)
      }),

    // ------------------------------------------------------- BPE trainer
    // Fifty iterations of byte-pair-encoding merge training. The
    // corpus-sized work is ONE distributed reduction to the (word,
    // freq) vocabulary, capped deterministically to the top-100k words
    // by (freq desc, word) — the standard BPE-trainer contract (count
    // distributed, train over the capped vocab), and the same
    // bounded-model-state discipline as [[Similarity.kmeansCentroids]]
    // (k·dim centroids) or the Misra-Gries UDAF (≤ k counters): what
    // reaches the driver is the model, never the corpus. Training then
    // runs INCREMENTALLY ([[bpeTrainIncremental]]): a pair→words
    // inverted index locates the words containing each winning pair,
    // only those words are rewritten, and pair counts are updated by
    // per-word deltas — per merge cost ∝ |affected words|, not a full
    // vocabulary rewrite, which is what makes a real 32k-merge train
    // feasible. The oracle mirrors every iteration with unrolled CTEs
    // (full re-count + corpus-wide replace per merge — quadratic is
    // fine oracle-side), so all 50 trained merges are hash-checked.
    // Oracle sequences are chr(1)-delimited: a control char cannot
    // occur in whitespace-split tokens, so the encoding is unambiguous
    // even for corpora whose tokens contain '_' (the Spark side works
    // on symbol arrays and needs no delimiter at all).
    QueryDef(
      "ta_bpe_merges",
      Some(s"""
        WITH ${sqlBpeCtes(50)}
        SELECT * FROM (
          ${(1 to 50).map(k =>
            s"SELECT $k AS iter, a, b, CAST(cnt AS BIGINT) AS pair_count FROM best$k")
            .mkString("\n          UNION ALL ")})
        ORDER BY iter
      """.trim),
      (s, d) => {
        import s.implicits._
        val merges = bpeTrainFull(bpeVocab(s, d), 50).merges
        merges.toDF("iter", "a", "b", "pair_count").orderBy($"iter")
      }),

    // BPE APPLICATION — the other half of tokenizer induction: segment
    // the corpus with the 50 trained merges and report per-doc token
    // counts and the compression the subword vocabulary buys. The
    // trained segmentation is vocab-bounded model state (word → symbol
    // count, ≤ the 100k cap) broadcast against one corpus explode —
    // at 100 TB this is a map-side join on a scan, the exact shape of
    // applying any trained tokenizer. The oracle re-derives the same
    // segmentation through the 50 unrolled merge CTEs and joins it the
    // same way, so the applied tokenization is hash-checked end to
    // end. Empty tokens (consecutive spaces) carry no symbols and drop
    // out of the inner join on both engines.
    QueryDef(
      "ta_bpe_apply",
      Some(s"""
        WITH ${sqlBpeCtes(50)},
        seg AS (
          SELECT word,
                 CAST(len(string_split(trim(seq, chr(1)), chr(1) || chr(1))) AS BIGINT) AS n_sym
          FROM s50),
        tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(g.n_sym) AS BIGINT) AS n_bpe_tokens,
               (SUM(g.n_sym) * 1.0 / COUNT(*)) AS tokens_per_word
        FROM tok t JOIN seg g ON t.word = g.word
        GROUP BY t.doc_id
        ORDER BY t.doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val seg = bpeTrainFull(bpeVocab(s, d), 50).segments
        val segDf = broadcast(seg.toDF("word", "n_sym")
          .select($"word", $"n_sym".cast("long").as("n_sym")))
        documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("word"))
          .join(segDf, "word")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_sym").as("n_bpe_tokens"),
            (sum($"n_sym") * lit(1.0) / count(lit(1))).as("tokens_per_word"))
          .orderBy($"doc_id")
      }),

    // Within-document repetition filters (the Gopher rules, Rae et al.
    // 2021 §A1.1, as adopted by RefinedWeb/Dolma): fraction of word
    // bigrams that are repeats of an earlier bigram, and the share of
    // the single most frequent bigram. High values flag boilerplate /
    // template / spam documents that per-corpus dedup never sees
    // because the repetition is INTERNAL. Pure row-local expression
    // over the token array (positional bigrams, not the distinct
    // shingle set) — one scan, no shuffle, exact integer arithmetic.
    QueryDef(
      "ta_repetition",
      Some("""
        WITH b AS (
          SELECT doc_id,
                 list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]) AS bgs
          FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
          WHERE len(tk) >= 2),
        f AS (
          SELECT doc_id, bg, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(bgs) AS bg FROM b)
          GROUP BY doc_id, bg)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_bigrams,
               ((SUM(c) - COUNT(*)) * 1.0 / SUM(c)) AS dup_bigram_frac,
               (MAX(c) * 1.0 / SUM(c)) AS top_bigram_share
        FROM f GROUP BY doc_id
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        // single-pass UDF, not transform(sequence(...)): the expression
        // form re-splits the text per element under CollapseProject
        // (the O(tokens²) trap documented at Dedup.shingleUdf)
        val bgs = documents(s, d)
          .select($"doc_id", positionalBigramsUdf($"text").as("bgs"))
          .filter($"bgs".isNotNull)
          .select($"doc_id", explode($"bgs").as("bg"))
        bgs.groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(sum($"c").as("n_bigrams"),
            (sum($"c") - count(lit(1))).as("n_dup_bigrams"),
            ((sum($"c") - count(lit(1))) * lit(1.0) / sum($"c")).as("dup_bigram_frac"),
            (max($"c") * lit(1.0) / sum($"c")).as("top_bigram_share"))
          .orderBy($"doc_id")
      }),

    // Unigram-surprisal quality score — the LM-perplexity-filter proxy
    // (CCNet-style: rank documents by how surprising their tokens are
    // under a unigram model of the corpus itself). Surprisal is
    // integer-BUCKETED: bits(token) = floor(log2(total/freq)), because
    // floating ln/log2 are not bit-portable across engines while the
    // floor is — for count ratios p/q at corpus magnitudes the true
    // log2 can't sit within an ulp of an integer unless the ratio IS a
    // power of two (where log2 is exact), so the bucket is
    // deterministic. Dataflow: one token explode, a vocab-sized
    // broadcast frequency join, integer sums — scan + broadcast join
    // at any corpus size; no DECIMAL routing needed because every
    // aggregate is integral until the final exact division.
    QueryDef(
      "ta_unigram_surprisal",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
        tot AS (SELECT COUNT(*) AS m FROM tok),
        b AS (
          SELECT t.doc_id,
                 CAST(floor(log2(CAST(m AS DOUBLE) / f)) AS BIGINT) AS bits
          FROM tok t JOIN freq USING (tok) CROSS JOIN tot)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(bits) AS BIGINT) AS total_bits,
               (SUM(bits) * 1.0 / COUNT(*)) AS mean_bits
        FROM b GROUP BY doc_id
        ORDER BY doc_id
      """.trim),
      (s, d) => {
        import s.implicits._
        val tok = documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
        val freq = tok.groupBy($"tok").agg(count(lit(1)).as("f"))
        val tot = tok.agg(count(lit(1)).as("m"))
        tok.join(broadcast(freq), "tok")
          .crossJoin(broadcast(tot))
          .select($"doc_id",
            floor(log2($"m".cast("double") / $"f")).cast("long").as("bits"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum($"bits").as("total_bits"),
            (sum($"bits") * lit(1.0) / count(lit(1))).as("mean_bits"))
          .orderBy($"doc_id")
      }),

    // Vocabulary coverage curve: the tokens that carry the first 90% of
    // corpus mass, with each one's cumulative share — the readout that
    // sizes a tokenizer's vocabulary. The cumulative sum is
    // [[Pipeline.globalRunningSum]] in (count desc, token) order —
    // range-sharded prefix sums, no single-partition window — so the
    // same query shapes a 10-billion-type vocabulary; the share
    // divisions are exact integers in IEEE doubles.
    QueryDef(
      "ta_vocab_coverage",
      Some("""
        WITH wc AS (
          SELECT tok, COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS m FROM wc),
        run AS (
          SELECT tok, CAST(cnt AS BIGINT) AS cnt,
                 CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM wc)
        SELECT tok, cnt, cum_tokens,
               cum_tokens * 1.0 / tot.m AS cum_share
        FROM run, tot
        WHERE (cum_tokens - cnt) * 1.0 / tot.m < 0.9
        ORDER BY cum_tokens
      """.trim),
      (s, d) => {
        import s.implicits._
        val wc = documents(s, d)
          .select(explode(split($"text", " ")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        val tot = wc.agg(sum($"cnt").as("m"))
        Pipeline.globalRunningSum(wc, Seq($"cnt".desc, $"tok"), $"cnt")
          .crossJoin(broadcast(tot))
          .filter(($"run_sum" - $"cnt") * lit(1.0) / $"m" < 0.9)
          .select($"tok", $"cnt", $"run_sum".as("cum_tokens"),
            ($"run_sum" * lit(1.0) / $"m").as("cum_share"))
          .orderBy($"cum_tokens")
      }),

    // Frequency spectrum (the Zipf/LNRE readout): token TYPES per
    // power-of-two frequency band — the curve that says how heavy the
    // head is and how long the hapax tail runs, i.e. whether MinHash
    // prefixes, vocab caps, and heavy-hitter sketches will bite. Bands
    // are integer-BUCKETED floor(log2(freq)) — same bit-portability
    // argument as ta_unigram_surprisal: floating log2 of an exact
    // integer can't sit within an ulp of an integer boundary unless
    // the ratio IS a power of two, where log2 is exact. One explode +
    // two tiny aggregations; scale-invariant.
    QueryDef(
      "ta_freq_spectrum",
      Some("""
        WITH wc AS (
          SELECT tok, COUNT(*) AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok)
        SELECT CAST(floor(log2(CAST(freq AS DOUBLE))) AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(freq) AS BIGINT) AS band_tokens,
               CAST(MIN(freq) AS BIGINT) AS min_freq,
               CAST(MAX(freq) AS BIGINT) AS max_freq
        FROM wc
        GROUP BY 1
        ORDER BY 1
      """.trim),
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .select(explode(split($"text", " ")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("freq"))
          .groupBy(floor(log2($"freq".cast("double"))).cast("long").as("band"))
          .agg(count(lit(1)).as("n_types"),
            sum($"freq").as("band_tokens"),
            min($"freq").as("min_freq"),
            max($"freq").as("max_freq"))
          .orderBy($"band")
      }),

    // PII detection + redaction — the scrubbing pass every training-data
    // pipeline runs before release. The synthetic corpus contains no PII,
    // so the query first INJECTS it deterministically from doc_id (email
    // every 3rd doc, IPv4 every 5th, phone every 7th — identical
    // expressions on both engines), then detects and redacts with
    // regexes restricted to the Java-regex ∩ RE2 common subset
    // (char classes, bounded repeats, \b — no lookaround, no backrefs).
    // Everything is a row-local expression tree over one scan: at 100 TB
    // this is an embarrassingly parallel map with zero shuffles besides
    // the presentation sort, and the filter prunes clean docs before the
    // (wide) redacted column is materialized.
    QueryDef(
      "ta_pii_redaction", {
        Some(s"""
          WITH aug AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                                || '.' || CAST(doc_id % 250 AS VARCHAR)
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS aug
            FROM documents),
          hits AS (
            SELECT doc_id, aug,
                   CAST(len(regexp_extract_all(aug, '$emailRe')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(aug, '$ipRe')) AS BIGINT) AS n_ip,
                   CAST(len(regexp_extract_all(aug, '$phoneRe')) AS BIGINT) AS n_phone
            FROM aug)
          SELECT doc_id, n_email, n_ip, n_phone,
                 regexp_replace(regexp_replace(regexp_replace(aug,
                   '$emailRe', '<EMAIL>', 'g'),
                   '$ipRe', '<IP>', 'g'),
                   '$phoneRe', '<PHONE>', 'g') AS redacted
          FROM hits
          WHERE n_email + n_ip + n_phone > 0
          ORDER BY doc_id
        """.trim)
      },
      (s, d) => {
        import s.implicits._
        val aug = documents(s, d).select($"doc_id",
          concat(
            $"text",
            when($"doc_id" % 3 === 0,
              concat(lit(" contact user"), $"doc_id".cast("string"),
                lit("@example.com now"))).otherwise(lit("")),
            when($"doc_id" % 5 === 0,
              concat(lit(" from 10."), ($"doc_id" % 256).cast("string"),
                lit("."), (($"doc_id" * 7) % 256).cast("string"),
                lit("."), ($"doc_id" % 250).cast("string"))).otherwise(lit("")),
            when($"doc_id" % 7 === 0,
              concat(lit(" call +1-555-"),
                lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("aug"))
        // Filter FIRST on one combined-alternation rlike (a boolean
        // find, the cheapest possible detect), THEN count on the
        // survivors: filtering on the counts themselves looks natural
        // but Catalyst pushes that predicate below the projection,
        // re-running all three regexp_extract_all per row — at 100 TB
        // the regexes are the whole cost, and rlike(any) ⟺ Σcounts > 0.
        aug
          .filter($"aug".rlike(s"($emailRe)|($ipRe)|($phoneRe)"))
          .withColumn("n_email",
            size(regexp_extract_all($"aug", lit(emailRe), lit(0))).cast("long"))
          .withColumn("n_ip",
            size(regexp_extract_all($"aug", lit(ipRe), lit(0))).cast("long"))
          .withColumn("n_phone",
            size(regexp_extract_all($"aug", lit(phoneRe), lit(0))).cast("long"))
          .select($"doc_id", $"n_email", $"n_ip", $"n_phone",
            regexp_replace(regexp_replace(regexp_replace($"aug",
              lit(emailRe), lit("<EMAIL>")),
              lit(ipRe), lit("<IP>")),
              lit(phoneRe), lit("<PHONE>")).as("redacted"))
          .orderBy($"doc_id")
      }),

    // Bigram next-token prediction — the smallest possible language
    // model, evaluated the way LMs are: train argmax-follower tables
    // on 90% of docs (doc_id % 10 ≠ 0), score next-token accuracy on
    // the held-out 10%. Everything is integer counts + string argmax
    // (ties → lexicographically smallest next) and one exact division
    // at the end — no log-probs, so the whole evaluation is
    // bit-portable. Bigrams explode row-local; the model is one
    // (prev → next) row per distinct context, hash-joined to the test
    // bigrams — at 100 TB the model table shuffles on `prev` like any
    // vocabulary-sized dimension.
    QueryDef(
      "ta_bigram_predict",
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        bg AS (
          SELECT doc_id, tk[i] AS prev, tk[i + 1] AS next
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)),
        model AS (
          SELECT prev, next AS pred FROM (
            SELECT prev, next, COUNT(*) AS c,
                   ROW_NUMBER() OVER (
                     PARTITION BY prev ORDER BY COUNT(*) DESC, next) AS rn
            FROM bg WHERE doc_id % 10 <> 0
            GROUP BY prev, next)
          WHERE rn = 1),
        test AS (
          SELECT b.prev, b.next, m.pred
          FROM bg b LEFT JOIN model m ON m.prev = b.prev
          WHERE b.doc_id % 10 = 0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(pred) AS BIGINT) AS n_covered,
               CAST(COUNT(CASE WHEN pred = next THEN 1 END) AS BIGINT) AS n_correct,
               COUNT(CASE WHEN pred = next THEN 1 END) * 1.0 / COUNT(*) AS acc,
               COUNT(CASE WHEN pred = next THEN 1 END) * 1.0 / COUNT(pred) AS acc_covered
        FROM test
      """.trim),
      (s, d) => {
        import s.implicits._
        val bg = documents(s, d)
          .select($"doc_id", split($"text", " ").as("tk"))
          // guard: sequence(0, size-2) DESCENDS for size < 2 and would
          // hit index 0; the oracle's range(1, len) is empty there
          .filter(size($"tk") >= 2)
          .select($"doc_id", explode(transform(
            sequence(lit(0), size($"tk") - 2),
            i => struct(element_at($"tk", i + 1).as("prev"),
              element_at($"tk", i + 2).as("next")))).as("p"))
          .select($"doc_id", $"p.prev".as("prev"), $"p.next".as("next"))
          .localCheckpoint()
        val w = Window.partitionBy($"prev").orderBy(desc("c"), asc("next"))
        val model = bg.filter($"doc_id" % 10 =!= 0)
          .groupBy($"prev", $"next").agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"prev", $"next".as("pred"))
        bg.filter($"doc_id" % 10 === 0)
          .join(model, Seq("prev"), "left")
          .agg(count(lit(1)).as("n_pairs"),
            count($"pred").as("n_covered"),
            count(when($"pred" === $"next", 1)).as("n_correct"))
          .select($"n_pairs", $"n_covered", $"n_correct",
            ($"n_correct" * lit(1.0) / $"n_pairs").as("acc"),
            ($"n_correct" * lit(1.0) / $"n_covered").as("acc_covered"))
      }),

    // Per-document keyword extraction by tf-idf — the document-side
    // twin of rag_tfidf_topk (which scores a fixed query's terms):
    // every non-stopword token ≥ 3 chars scores tf·N/df (raw-ratio
    // idf — ln() does not round identically across engines, the
    // documented rag_bm25 lesson) and each doc keeps its top 3
    // (ties → lexicographic). One row-local explode, one df
    // aggregate, one doc-keyed window top-k: the df table is
    // vocabulary-sized and shuffles on token like any dimension.
    QueryDef(
      "ta_keywords_tfidf", {
        val sw = graft.functions.TextFunctions.englishStopwords.toSeq.sorted
          .map(w => s"'$w'").mkString(", ")
        Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        ok AS (
          SELECT doc_id, tok FROM toks
          WHERE length(tok) >= 3 AND NOT list_contains([$sw], tok)),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ok GROUP BY 1, 2),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 CAST(tf.tf AS DOUBLE) * n.n / df.df AS score,
                 ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) * n.n / df.df DESC, tf.tok) AS rnk
          FROM tf JOIN df USING (tok) CROSS JOIN n)
        SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok AS keyword, score
        FROM scored WHERE rnk <= 3
        ORDER BY doc_id, rnk
      """.trim)
      },
      (s, d) => {
        import s.implicits._
        val sw = graft.functions.TextFunctions.englishStopwords.toSeq.sorted
        val docs = documents(s, d)
        val n = docs.agg(count(lit(1)).as("n"))
        val tf = docs
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
          .filter(length($"tok") >= 3 &&
            !array_contains(array(sw.map(lit): _*), $"tok"))
          .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy($"doc_id").orderBy(desc("score"), asc("tok"))
        tf.join(df, "tok")
          .crossJoin(broadcast(n))
          .select($"doc_id", $"tok",
            ($"tf".cast("double") * $"n" / $"df").as("score"))
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select($"doc_id", $"rnk".cast("long").as("rnk"),
            $"tok".as("keyword"), $"score")
          .orderBy($"doc_id", $"rnk")
      }),

    // Per-source distribution drift — Hellinger distance between each
    // source's unigram distribution and the whole-corpus distribution:
    // the mixture-monitoring statistic a curation pipeline tracks to
    // catch a crawl source drifting (H ∈ [0,1], 0 = identical).
    // H² = ½ Σ_t (√p_t − √q_t)², split into the tokens PRESENT in the
    // source (per-token term, decimal-summed) plus the absent mass
    // Σ_{t∉src} q_t = 1 − Σ_{t∈src} q_t (exact integer sums, one
    // division). Hellinger is chosen over KL/JS deliberately: sqrt and
    // division are IEEE-correctly-rounded so the statistic is
    // bit-reproducible across engines and partitionings, while
    // ln-based divergences are libm-dependent. Dataflow: one token
    // count at (source, tok) grain, a groupBy rollup to each side's
    // totals, a tok-keyed join of per-source counts to corpus counts
    // (both O(vocab)), decimal term sums — no corpus-squared anything.
    QueryDef(
      "ta_hellinger_drift",
      Some("""
        WITH t AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        ct AS (SELECT source, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        st AS (SELECT source, SUM(c) AS ns FROM ct GROUP BY 1),
        gt AS (SELECT tok, SUM(c) AS cg FROM ct GROUP BY 1),
        tot AS (SELECT SUM(cg) AS n FROM gt),
        terms AS (
          SELECT ct.source,
                 CAST((sqrt(ct.c * 1.0 / st.ns) - sqrt(gt.cg * 1.0 / tot.n))
                      * (sqrt(ct.c * 1.0 / st.ns) - sqrt(gt.cg * 1.0 / tot.n))
                      AS DECIMAL(28,12)) AS term,
                 gt.cg AS cg
          FROM ct
          JOIN st ON ct.source = st.source
          JOIN gt ON ct.tok = gt.tok
          CROSS JOIN tot),
        agg AS (
          SELECT source,
                 CAST(SUM(term) AS DOUBLE) AS termsum,
                 SUM(cg) AS present_cg
          FROM terms GROUP BY source)
        SELECT a.source,
               CAST(st.ns AS BIGINT) AS n_tokens,
               sqrt((a.termsum + (1 - a.present_cg * 1.0 / tot.n)) / 2) AS hellinger
        FROM agg a JOIN st ON a.source = st.source CROSS JOIN tot
        ORDER BY a.source
      """.trim),
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        // ct feeds three subtrees (itself, per-source totals, corpus
        // totals) — persist so documents is tokenized once, not thrice
        val ct = documents(s, d)
          .select($"source", explode(split($"text", " ")).as("tok"))
          .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
          .persist()
        val st = ct.groupBy($"source").agg(sum($"c").as("ns"))
        val gt = ct.groupBy($"tok").agg(sum($"c").as("cg"))
        val tot = gt.agg(sum($"cg").as("n"))
        val diff = sqrt($"c".cast("double") / $"ns") -
          sqrt($"cg".cast("double") / $"n")
        val agg = ct
          .join(broadcast(st), "source")
          .join(gt, "tok")
          .crossJoin(broadcast(tot))
          .select($"source",
            ((diff * diff).cast(DecimalType(28, 12))).as("term"), $"cg")
          .groupBy($"source")
          .agg(sum($"term").cast("double").as("termsum"),
            sum($"cg").as("present_cg"))
        agg
          .join(broadcast(st), "source")
          .crossJoin(broadcast(tot))
          .select($"source", $"ns".as("n_tokens"),
            sqrt(($"termsum" + (lit(1) - $"present_cg".cast("double") / $"n")) / 2)
              .as("hellinger"))
          .orderBy($"source")
      })
  )

  /** The shared unrolled-oracle CTE chain for BPE training: `words`
    * (distributed count, deterministic top-100k cap), `s0` (chr(1)-
    * delimited character sequences), then per iteration k: `pairsK`
    * (full re-count), `bestK` (cnt desc, a, b), `sK` (corpus-wide
    * replace). MATERIALIZED is load-bearing: DuckDB inlines CTEs
    * referenced more than once, and sK feeds both pairsK+1 and sK+1 —
    * inlining is exponential in the iteration count. */
  private[operators] def sqlBpeCtes(nMerges: Int): String = {
    def iterCte(k: Int): String = {
      val prev = s"s${k - 1}"
      s"""pairs$k AS (
          SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS cnt FROM (
            SELECT freq, syms, unnest(range(1, len(syms))) AS i
            FROM (SELECT freq, string_split(trim(seq, chr(1)), chr(1) || chr(1)) AS syms FROM $prev))
          GROUP BY 1, 2),
        best$k AS MATERIALIZED (
          SELECT a, b, cnt FROM pairs$k ORDER BY cnt DESC, a, b LIMIT 1),
        s$k AS MATERIALIZED (
          SELECT word, freq,
                 replace(seq, chr(1) || x.a || chr(1) || chr(1) || x.b || chr(1),
                         chr(1) || x.a || x.b || chr(1)) AS seq
          FROM $prev, best$k x)"""
    }
    s"""words AS (
          SELECT word, freq FROM (
            SELECT word, COUNT(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE length(word) >= 1 GROUP BY word)
          ORDER BY freq DESC, word LIMIT 100000),
        s0 AS (
          SELECT word, freq,
                 chr(1) || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]),
                                           chr(1) || chr(1)) || chr(1) AS seq
          FROM words),
        ${(1 to nMerges).map(iterCte).mkString(",\n        ")}"""
  }

  /** The distributed half of BPE training: corpus → (word, freq),
    * capped deterministically at the top-100k by (freq desc, word). */
  private[operators] def bpeVocab(s: org.apache.spark.sql.SparkSession, d: String): Array[(String, Long)] = {
    import s.implicits._
    documents(s, d)
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") >= 1)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"word").limit(100000)
      .as[(String, Long)].collect()
  }

  /** Trained merges plus the final per-word segmentation size. */
  private[graft] final case class BpeResult(
      merges: Seq[(Int, String, String, Long)],
      segments: Seq[(String, Int)])

  /** Incremental BPE merge training over a (word, freq) vocabulary —
    * the in-memory half of `ta_bpe_merges`, fed by the distributed
    * corpus reduction. Classic trainer dataflow:
    *  - global pair counts and a pair → word-indices inverted index
    *    are built in one pass over the vocabulary;
    *  - each merge picks the best pair (count desc, then pair strings
    *    asc — the oracle's ORDER BY cnt DESC, a, b), rewrites ONLY the
    *    words that contain it (greedy left-to-right, matching SQL
    *    `replace`'s scan-after-replacement semantics: aaa + (a,a) →
    *    [aa, a]), and applies per-word count/index deltas — cost per
    *    merge ∝ |affected words|, never a vocabulary-wide rewrite.
    * Deterministic throughout: ties, iteration order, and arithmetic
    * are all total-ordered, so the result is hash-checkable against
    * the oracle's full re-count per iteration. */
  private[graft] def bpeTrainIncremental(
      vocab: Array[(String, Long)], nMerges: Int): Seq[(Int, String, String, Long)] =
    bpeTrainFull(vocab, nMerges).merges

  private[graft] def bpeTrainFull(
      vocab: Array[(String, Long)], nMerges: Int): BpeResult = {
    import scala.collection.mutable
    val freqs = vocab.map(_._2)
    val words: Array[mutable.ArrayBuffer[String]] =
      vocab.map { case (w, _) => mutable.ArrayBuffer(w.map(_.toString): _*) }
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def addPair(p: (String, String), wi: Int, f: Long): Unit = {
      counts.updateWith(p) { c => Some(c.getOrElse(0L) + f) }
      index.getOrElseUpdate(p, mutable.HashSet.empty) += wi
    }
    def subPair(p: (String, String), wi: Int, f: Long, stillHas: Boolean): Unit = {
      counts.updateWith(p) { c =>
        val n = c.getOrElse(0L) - f; if (n <= 0L) None else Some(n)
      }
      if (!stillHas) index.get(p).foreach { s => s -= wi; if (s.isEmpty) index -= p }
    }
    words.indices.foreach { wi =>
      val syms = words(wi)
      var i = 0
      while (i < syms.length - 1) { addPair((syms(i), syms(i + 1)), wi, freqs(wi)); i += 1 }
    }
    val out = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (k <- 1 to nMerges if counts.nonEmpty) {
      val best = counts.keysIterator.reduceLeft { (x, y) =>
        val cx = counts(x); val cy = counts(y)
        if (cy > cx || (cy == cx &&
            (y._1 < x._1 || (y._1 == x._1 && y._2 < x._2)))) y else x
      }
      out += ((k, best._1, best._2, counts(best)))
      val merged = best._1 + best._2
      // snapshot: the loop below mutates the index it reads from
      val affected = index.getOrElse(best, mutable.HashSet.empty).toArray.sorted
      affected.foreach { wi =>
        val f = freqs(wi)
        val old = words(wi)
        val next = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < old.length) {
          if (i < old.length - 1 && old(i) == best._1 && old(i + 1) == best._2) {
            next += merged; i += 2
          } else { next += old(i); i += 1 }
        }
        def pairsOf(s: mutable.ArrayBuffer[String]): Seq[(String, String)] =
          (0 until s.length - 1).map(i => (s(i), s(i + 1)))
        val oldPairs = pairsOf(old)
        val newPairs = pairsOf(next)
        val newSet = newPairs.toSet
        oldPairs.foreach(p => subPair(p, wi, f, stillHas = newSet.contains(p)))
        newPairs.foreach(p => addPair(p, wi, f))
        words(wi) = next
      }
    }
    BpeResult(out.toSeq,
      vocab.indices.map(i => vocab(i)._1 -> words(i).length))
  }
}
