package graft.operators

import graft.QueryDef
import graft.sources.Tables._
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
  * the word-adjacency graph of the whole corpus, top-20 words by rank —
  * the classic unsupervised keyword ranker, here as a corpus-level
  * vocabulary ranking (which terms sit at the center of the corpus'
  * phrase graph, vs ta_keywords_tfidf's frequency contrast).
  *
  * Graph: adjacent lowercase word pairs (alphabetic, length ≥ 4 — the
  * content-word gate standing in for a POS filter), deduped canonical
  * edges, symmetrized — the unweighted TextRank variant. The walk is
  * the engine's shared [[Graph.pagerank]] (node type is the word
  * string): co-partitioned shuffled joins, DECIMAL-routed contribution
  * sums, linear loop lineage, no |V| broadcast. The oracle unrolls the
  * identical 3 iterations.
  *
  * Scale: the vocabulary graph is corpus-sublinear (Heaps' law —
  * ta_heaps_law measures it); edge build is one row-local explode +
  * one distinct.
  */
object Textrank {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "ta_textrank",
      Some(s"""
        WITH tk AS (
          SELECT doc_id, list_transform(string_split(text, ' '), w -> lower(w)) AS tk
          FROM documents),
        adj AS (
          SELECT tk[i] AS a, tk[i + 1] AS b
          FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)),
        e0 AS (
          SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
          FROM adj
          WHERE regexp_matches(a, '^[a-z]{4,}$$')
            AND regexp_matches(b, '^[a-z]{4,}$$') AND a <> b),
        e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        ${Graph.sqlPagerank}
        SELECT node AS word, pr
        FROM p${Graph.iters}
        ORDER BY pr DESC, word
        LIMIT 20
      """.trim),
      (s, d) => {
        import s.implicits._
        val adj = documents(s, d)
          .select(transform(split($"text", " "), w => lower(w)).as("tk"))
          .filter(size($"tk") >= 2)
          .select(explode(transform(
            sequence(lit(0), size($"tk") - 2),
            i => struct(element_at($"tk", i + 1).as("a"),
              element_at($"tk", i + 2).as("b")))).as("p"))
          .select($"p.a".as("a"), $"p.b".as("b"))
        val e0 = adj
          .filter($"a".rlike("^[a-z]{4,}$") && $"b".rlike("^[a-z]{4,}$") &&
            $"a" =!= $"b")
          .select(least($"a", $"b").as("src"), greatest($"a", $"b").as("dst"))
          .distinct()
        val edges = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
        Graph.pagerank(edges, Graph.iters, Graph.damping)
          .orderBy($"pr".desc, $"node")
          .limit(20)
          .select($"node".as("word"), $"pr")
      }))
}
